package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.search.Ann
import graft.streaming.Streams

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps one row per normalized text, lowest key") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "other text"),
      (4L, "HELLO WORLD \n")).toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(df, "text", "doc_id").collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("n") == 3)
    val kept = Dedup.dedupExact(df, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("connected components: chains, singleton pairs, determinism") {
    import graft.dedup.ConnectedComponents
    // components: {1,2,3,4} (a chain, diameter 3), {10,11}, {20,21,22} (star)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("a", "b")
    val lab = ConnectedComponents.labels(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    val comps = ConnectedComponents.components(edges, "a", "b")
      .orderBy("comp_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(comps.toSeq == Seq((1L, 4L, 1L, 4L), (10L, 2L, 10L, 11L), (20L, 3L, 20L, 22L)))
    // a chain longer than maxIter must fail loudly, not return wrong labels
    val longChain = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    intercept[IllegalStateException] {
      ConnectedComponents.labels(longChain, "a", "b", maxIter = 3).collect()
    }
    // ...and converge fine with enough rounds
    val ok = ConnectedComponents.labels(longChain, "a", "b", maxIter = 15)
    assert(ok.select("comp").distinct().as[Long].collect().toSeq == Seq(1L))
  }

  test("connected components: pointer jumping closes a 200-chain in O(log d) rounds") {
    import graft.dedup.ConnectedComponents
    // diameter 199: plain one-hop propagation would need ~200 rounds;
    // the per-round pointer jump doubles reach, so 12 rounds must do
    val chain = (1L to 200L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    val lab = ConnectedComponents.labels(chain, "a", "b", maxIter = 12)
    assert(lab.select("comp").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(lab.count() == 200)
  }

  test("connected components: 10k-chain (pathological diameter) closes within 15 rounds") {
    import graft.dedup.ConnectedComponents
    // diameter 9999 — plain propagation would need ~10^4 rounds; the
    // pointer jump must close it in ~log2(d) = 14 (+1 seed/confirm).
    // maxIter = 15 < the default 20, so the default keeps slack.
    val chain = (0L until 10000L).map(i => (i, i + 1)).toDF("a", "b")
      .repartition(4)
    val lab = ConnectedComponents.labels(chain, "a", "b", maxIter = 15)
    assert(lab.select("comp").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(lab.count() == 10001)
  }

  test("connected components: empty edge list yields empty labels, dedup keeps everything") {
    import graft.dedup.ConnectedComponents
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ConnectedComponents.labels(noEdges, "a", "b").count() == 0)
    // the common production case: a clean corpus with zero near-dup pairs
    val corpus = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val kept = ConnectedComponents.dropDuplicates(corpus, "doc_id", noEdges, "a", "b")
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // hashed (near-2^63) node ids must not break convergence detection
    val big = Seq((Long.MaxValue - 1, Long.MaxValue - 3),
      (Long.MaxValue - 3, Long.MaxValue - 5)).toDF("a", "b")
    val labs = ConnectedComponents.labels(big, "a", "b")
      .select("comp").distinct().as[Long].collect()
    assert(labs.toSeq == Seq(Long.MaxValue - 5))
  }

  test("survivorsBy/dropDuplicatesBy: max-score survivor, ties, nulls, absent members") {
    import graft.dedup.ConnectedComponents
    // components {1,2,3} and {10,11}; scores make 2 the best of the first
    // group, 10/11 TIE in the second (tie -> min key keeps determinism)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("key_a", "key_b")
    val corpus = Seq((1L, 5), (2L, 9), (3L, 7), (10L, 4), (11L, 4), (99L, 1))
      .toDF("doc_id", "q")
    val surv = ConnectedComponents
      .survivorsBy(corpus, "doc_id", pairs, col("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(surv == Set((1L, 2L, 3L), (10L, 10L, 2L)),
      s"best-of-group + tie-break: $surv")
    val kept = ConnectedComponents
      .dropDuplicatesBy(corpus, "doc_id", pairs, col("q"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 2 wins its group, 10 wins the tie, 99 untouched by any pair
    assert(kept == Seq(2L, 10L, 99L))
    // all-null-score component falls back to the min-key survivor
    val nullCorpus = Seq((1L, null.asInstanceOf[Integer]),
      (2L, null.asInstanceOf[Integer]), (3L, Integer.valueOf(1)))
      .toDF("doc_id", "q")
    val keptNull = ConnectedComponents
      .dropDuplicatesBy(nullCorpus, "doc_id", Seq((1L, 2L)).toDF("key_a", "key_b"),
        col("q"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptNull == Seq(1L, 3L), s"null-score group keeps min key: $keptNull")
    // members absent from the corpus can't win; survivor is chosen among
    // the present members and the absent key simply stays gone
    val partial = Seq((2L, 6), (3L, 8)).toDF("doc_id", "q")
    val keptPartial = ConnectedComponents
      .dropDuplicatesBy(partial, "doc_id", pairs, col("q"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptPartial == Seq(3L), s"absent member must not win: $keptPartial")
  }

  test("mergeLabels: incremental batches match full recompute; untouched components pass through") {
    import graft.dedup.ConnectedComponents
    // standing corpus: components {1,2,3} (chain), {10,11}, {20,21}
    val era0 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("key_a", "key_b")
    val standing0 = ConnectedComponents.labels(era0, "key_a", "key_b")
      .localCheckpoint(true)
    // batch 1: merges {1,2,3} with {10,11} via (3,10); adds new comp {30,31}
    val era1 = Seq((3L, 10L), (30L, 31L)).toDF("key_a", "key_b")
    val standing1 = ConnectedComponents.mergeLabels(standing0, era1)
      .localCheckpoint(true)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full1 = toMap(ConnectedComponents.labels(
      era0.unionByName(era1), "key_a", "key_b"))
    assert(toMap(standing1) == full1, "one batch folded == full recompute")
    assert(full1(10L) == 1L && full1(30L) == 30L && full1(20L) == 20L)
    // batch 2: chains the NEW comp into {20,21} AND brings a brand-new
    // node 40 into the merged giant — exercises merge-of-merged labels
    val era2 = Seq((31L, 20L), (40L, 1L)).toDF("key_a", "key_b")
    val standing2 = ConnectedComponents.mergeLabels(standing1, era2)
    val full2 = toMap(ConnectedComponents.labels(
      era0.unionByName(era1).unionByName(era2), "key_a", "key_b"))
    assert(toMap(standing2) == full2, "two batches folded == full recompute")
    assert(full2(21L) == 20L && full2(40L) == 1L)
    // empty batch: standing returned unchanged
    val noNew = Seq.empty[(Long, Long)].toDF("key_a", "key_b")
    assert(toMap(ConnectedComponents.mergeLabels(standing2, noNew)) == full2)
    // empty standing: pure bootstrap
    val empty = ConnectedComponents.labels(noNew, "key_a", "key_b")
    assert(toMap(ConnectedComponents.mergeLabels(empty, era0)) == toMap(standing0))
  }

  test("deterministic shuffle: dense reproducible ranks, salt re-deals, matches window oracle") {
    import graft.operators.Shuffle
    val df = (0L until 1000L).map(k => (k, s"doc $k")).toDF("k", "v").repartition(7)
    val s1 = Shuffle.deterministicShuffle(df, "k")
    val posMap = s1.select("k", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(posMap.values.toSeq.sorted == (0L until 1000L), "ranks are dense 0..n-1")
    val s2 = Shuffle.deterministicShuffle(df.repartition(3), "k")
      .select("k", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s2 == posMap, "order is independent of input partitioning")
    // equals the single-task window form (what the operator replaces)
    val oracle = df.withColumn("pos",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(md5(col("k").cast("string")), col("k"))) - 1)
      .select("k", "pos").collect().map(r => r.getLong(0) -> (r.getInt(1).toLong)).toMap
    assert(posMap == oracle, "distributed rank == global window rank")
    // a salt deals a different permutation with the same membership
    val salted = Shuffle.deterministicShuffle(df, "k", salt = "epoch2")
      .select("k", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted.keySet == posMap.keySet && salted != posMap)
  }

  test("shard export: one file per shard, deterministic re-run, manifest binds order") {
    import graft.operators.Export
    val df = (0L until 500L).map(k => (k, s"doc $k")).toDF("k", "v").repartition(7)
    val out = tempDir("graft_shards") + "/train"
    val manifest = Export.writeShards(df, "k", out, rowsPerShard = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 500 rows / 64 = 8 shards, last one short; contiguous pos ranges
    assert(manifest.length == 8)
    assert(manifest.map(_._2).sum == 500L)
    assert(manifest.init.forall(_._2 == 64L) && manifest.last._2 == 52L)
    manifest.foreach { case (s0, n, lo, hi, _) =>
      assert(lo == s0 * 64 && hi == lo + n - 1, "pos ranges must tile")
    }
    // exactly one data file per shard directory
    (0 until 8).foreach { s0 =>
      val files = new java.io.File(s"$out/shard=$s0").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $s0 wrote ${files.length} files")
    }
    // written rows match the plan's order (pos sorted within each shard)
    val rd = spark.read.parquet(out)
    assert(rd.count() == 500L)
    // a re-run over identical input reproduces identical membership
    val again = Export.writeShards(df, "k",
      out + "2", rowsPerShard = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(again.toSeq == manifest.map(t => (t._1, t._2, t._5)).toSeq)
    // the stored manifest round-trips
    assert(spark.read.parquet(s"$out/_manifest").count() == 8L)
  }

  test("jsonl export: interchange shards round-trip, order provable from pos") {
    import graft.operators.Export
    val df = (0L until 300L).map(k => (k, s"doc $k")).toDF("k", "v").repartition(7)
    val out = tempDir("graft_jsonl") + "/rel"
    val manifest = Export.writeShards(df, "k", out, rowsPerShard = 64,
        format = "jsonl")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    // identical manifest (shards, counts, checksums) to the parquet form
    // — format changes the file bytes, never membership or order
    val pq = Export.writeShards(df, "k", out + "_pq", rowsPerShard = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    assert(manifest == pq)
    // one .json file per shard, newline-delimited objects
    (0 until 5).foreach { s0 =>
      val files = new java.io.File(s"$out/shard=$s0").listFiles()
        .filter(_.getName.endsWith(".json"))
      assert(files.length == 1, s"shard $s0 wrote ${files.length} json files")
      val first = scala.io.Source.fromFile(files.head).getLines().next()
      assert(first.startsWith("{") && first.endsWith("}"), first)
    }
    // round-trip through the jsonl reader: full membership, and the
    // manifest checksum re-derives from the re-read rows — the consumer
    // can PROVE it received every row in order
    val back = graft.sources.Ingest.readJsonl(spark, s"$out/shard=*/*.json")
    assert(back.count() == 300L)
    val re = back
      .withColumn("shard", (col("pos") / 64).cast("long"))
      .groupBy(col("shard"))
      .agg(sum(col("k") * (col("pos") % 64 + lit(1L))).as("checksum"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1))).toSeq
      .sortBy(_._1)
    assert(re == manifest)
  }

  test("split export: per-split trees partition the corpus, assignment matches hashSplit") {
    import graft.operators.{Export, Sampling}
    val df = (0L until 600L).map(k => (k, s"doc $k")).toDF("k", "v").repartition(5)
    val out = tempDir("graft_split")
    val splits = Seq("train" -> 90, "val" -> 5, "test" -> 5)
    val manifest = Export.writeSplitShards(df, "k", out, rowsPerShard = 64, splits)
      .collect().map(r => (r.getString(0), r.getAs[Long]("n_rows")))
    // the trees partition the corpus: every row lands in exactly one split
    val bySplit = splits.map { case (name, _) =>
      name -> spark.read.parquet(s"$out/$name").select("k")
        .collect().map(_.getLong(0)).toSet
    }.toMap
    assert(bySplit.values.map(_.size).sum == 600)
    assert(bySplit.values.reduce(_ union _).size == 600, "splits are disjoint")
    // membership is exactly hashSplit's assignment (a training job and a
    // later audit derive the same sides from the keys alone)
    val want = Sampling.hashSplit(df, "k", splits).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    bySplit.foreach { case (name, keys) =>
      assert(keys == want.filter(_._2 == name).keySet, s"split $name")
    }
    // per-split manifests agree with the written trees
    manifest.groupBy(_._1).foreach { case (name, rows) =>
      assert(rows.map(_._2).sum == bySplit(name).size.toLong, s"manifest $name")
    }
  }

  test("collection dedup index: indexed check == inline, refresh catches appends") {
    import graft.core.{Catalog, CollectionConfig}
    import graft.dedup.Dedup
    val root = tempDir("graft_ddidx")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "docs"))
    c.importDf(Seq("alpha beta gamma delta epsilon",
      "one two three four five").toDF("text"))
    val newBatch = Seq(
      (101L, "alpha beta gamma delta epsilon"),   // exact dup of doc 1
      (102L, "totally different words here now")) // clean
      .toDF("_key", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = pairs(Dedup.incrementalNearDups(
      newBatch, c.df.select(col("_key"), col("text")), "text", "_key", 0.8))
    assert(inline == Set((1L, 101L)))
    // no index yet -> fallback path; then the indexed path must agree
    assert(pairs(c.checkDuplicates("text", newBatch)) == inline)
    c.buildDedupIndex("text")
    assert(pairs(c.checkDuplicates("text", newBatch)) == inline)
    // append a doc duplicating batch row 102; the STORED bands are stale
    // until refresh, after which the check sees the new corpus row
    c.appendDf(Seq("totally different words here now").toDF("text"))
    assert(pairs(c.checkDuplicates("text", newBatch)) == inline, "stale index by design")
    assert(c.refreshDedupIndex("text") == 1L)
    assert(c.refreshDedupIndex("text") == 0L, "second refresh is a no-op")
    val after = pairs(c.checkDuplicates("text", newBatch))
    assert(after == Set((1L, 101L), (3L, 102L)), s"refresh missed the append: $after")
    // staged-swap rebuild over the existing index agrees
    c.buildDedupIndex("text")
    assert(pairs(c.checkDuplicates("text", newBatch)) == after)
    // upsert rewrites doc 1's text. Old-text candidates are already
    // suppressed WITHOUT repair (the exact-Jaccard verify reads the
    // CURRENT corpus text); the staleness is the reverse direction —
    // a batch doc duplicating the NEW text generates no candidate,
    // because the stored bands still describe the old text.
    c.upsert(Seq((1L, "fresh replacement sentence entirely")).toDF("_key", "text"))
    assert(pairs(c.checkDuplicates("text", newBatch)) == Set((3L, 102L)),
      "old-text match must die at the verify step even before repair")
    val batch2 = Seq((201L, "fresh replacement sentence entirely")).toDF("_key", "text")
    assert(pairs(c.checkDuplicates("text", batch2)).isEmpty,
      "stale bands cannot propose the rewritten doc — the trap repair closes")
    assert(c.repairDedupIndex("text") == 1L)
    assert(c.repairDedupIndex("text") == 0L, "clean re-run is a no-op")
    assert(pairs(c.checkDuplicates("text", batch2)) == Set((1L, 201L)),
      "repaired index must match the new text")
    assert(pairs(c.checkDuplicates("text", newBatch)) == Set((3L, 102L)))
  }

  test("temperature mix: flattens shares toward sqrt, deterministic, alpha=1 identity") {
    import graft.operators.Sampling
    // heavily imbalanced groups: 1600 "en" vs 100 "xx"
    val df = ((0L until 1600L).map(k => (k, "en")) ++
      (10000L until 10100L).map(k => (k, "xx"))).toDF("k", "g")
    val m1 = Sampling.temperatureMix(df, "k", "g", alpha = 0.5)
    val m2 = Sampling.temperatureMix(df, "k", "g", alpha = 0.5)
    val keys1 = m1.select("k").as[Long].collect().sorted.toSeq
    assert(keys1 == m2.select("k").as[Long].collect().sorted.toSeq, "deterministic")
    val byGroup = m1.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // smallest group is anchored at capRate 1.0: all 100 xx rows kept;
    // en keeps ~sqrt(100/1600) = 1/4 of 1600 = ~400 (md5 near-uniform)
    assert(byGroup("xx") == 100L, s"smallest group must keep everything: $byGroup")
    assert(math.abs(byGroup("en") - 400L) < 80, s"en ~ n*sqrt(nmin/n): $byGroup")
    // post-sample ratio ~ sqrt(1600)/sqrt(100) = 4:1 vs the input's 16:1
    assert(byGroup("en").toDouble / byGroup("xx") < 6.0, "mix flattened")
    // alpha = 1 keeps the natural mix in full at capRate 1
    assert(Sampling.temperatureMix(df, "k", "g", alpha = 1.0).count() == 1700L)
    // capRate scales everyone, smallest group included
    val capped = Sampling.temperatureMix(df, "k", "g", alpha = 0.5, capRate = 0.5)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(capped("xx") - 50L) < 25, s"capRate halves the anchor: $capped")
  }

  test("capPerGroup: exact cap, md5-order survivors, under-cap pass-through") {
    import graft.operators.Sampling
    // "big" is over a cap of 5; "small"/"tiny" are under it
    val df = ((0L until 40L).map(k => (k, "big", s"t$k")) ++
      (100L until 104L).map(k => (k, "small", s"t$k")) :+
      (200L, "tiny", "t200")).toDF("k", "g", "txt")
    val kept = Sampling.capPerGroup(df, "g", "k", 5)
    assert(kept.columns.toSeq == Seq("k", "g", "txt"), "column order preserved")
    val byG = kept.collect().groupBy(_.getString(1))
    // under-cap groups pass through COMPLETE
    assert(byG("small").map(_.getLong(0)).sorted.toSeq == (100L until 104L).toSeq)
    assert(byG("tiny").map(_.getLong(0)).toSeq == Seq(200L))
    // over-cap group trims to exactly n, survivors = md5-order head
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = (0L until 40L).sortBy(k => (hex(k.toString), k)).take(5).toSet
    assert(byG("big").map(_.getLong(0)).toSet == want)
    // deterministic across runs; exact boundary n == group size keeps all
    assert(kept.collect().map(_.getLong(0)).sorted.toSeq ==
      Sampling.capPerGroup(df, "g", "k", 5).collect().map(_.getLong(0)).sorted.toSeq)
    assert(Sampling.capPerGroup(df, "g", "k", 40).count() == 45L,
      "n == max group size must keep everything")
    // a NULL group (unattributed rows) is capped like any other — the
    // null-safe join must not exempt it
    val withNull = ((0L until 40L).map(k => (k, Option("big"))) ++
      (500L until 540L).map(k => (k, Option.empty[String]))).toDF("k", "g")
    val cappedNull = Sampling.capPerGroup(withNull, "g", "k", 5).collect()
    assert(cappedNull.count(_.isNullAt(1)) == 5, "null group trims to the cap")
    assert(cappedNull.length == 10)
  }

  test("stratified sampling: deterministic, rate-proportional, append-stable") {
    import graft.operators.Sampling
    val df = (0L until 2000L).map(k => (k, if (k % 2 == 0) "a" else "b"))
      .toDF("k", "s")
    val rates = Map("a" -> 25, "b" -> 80)
    val s1 = Sampling.stratified(df, "k", "s", rates, defaultRate = 0)
    val s2 = Sampling.stratified(df, "k", "s", rates, defaultRate = 0)
    val keys1 = s1.select("k").as[Long].collect().sorted.toSeq
    assert(keys1 == s2.select("k").as[Long].collect().sorted.toSeq, "deterministic")
    val byStratum = s1.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 keys per stratum; md5 buckets are near-uniform
    assert(math.abs(byStratum("a") - 250L) < 60, s"got ${byStratum("a")}")
    assert(math.abs(byStratum("b") - 800L) < 60, s"got ${byStratum("b")}")
    // membership is per-key stable: sampling a subset yields the subset's rows
    val subset = Sampling.stratified(df.filter(col("k") < 1000), "k", "s", rates, 0)
      .select("k").as[Long].collect().toSet
    assert(subset == keys1.filter(_ < 1000L).toSet, "append-stable membership")
  }

  test("hashSplit: total, disjoint, proportional, append-stable, shared-key aligned") {
    import graft.operators.Sampling
    val df = (0L until 2000L).map(k => (k, s"t$k")).toDF("k", "payload")
    val splits = Seq("train" -> 90, "val" -> 5, "test" -> 5)
    val out = Sampling.hashSplit(df, "k", splits)
    // total + disjoint: every row gets exactly one split label
    assert(out.count() == 2000L)
    val byId = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId.size == 2000)
    val counts = byId.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 1800) < 100, s"got $counts")
    assert(math.abs(counts("val") - 100) < 50 &&
      math.abs(counts("test") - 100) < 50, s"got $counts")
    // append-stable: splitting a prefix assigns the same labels
    val prefix = Sampling.hashSplit(df.filter(col("k") < 500), "k", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(prefix == byId.filter(_._1 < 500L), "assignments never migrate")
    // shared-key alignment: a different table splits identically by key
    val other = (0L until 2000L).map(k => (k, k * 2.0)).toDF("k", "w")
    val aligned = Sampling.hashSplit(other, "k", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(aligned == byId, "same key, same side — no coordination needed")
    // map-side only: no exchange in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"hashSplit must not shuffle:\n$plan")
    // invalid percent tables are rejected
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, "k", Seq("a" -> 50, "b" -> 40))
    }
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, "k", Seq("a" -> 50, "a" -> 50))
    }
  }

  test("weighted sampling: deterministic, weight-proportional, append-stable") {
    import graft.operators.Sampling
    val df = (0L until 4000L).map(k => (k, (k % 4) * 0.25)).toDF("k", "w")
    val s1 = Sampling.weighted(df, "k", col("w"))
    val keys1 = s1.select("k").as[Long].collect().sorted.toSeq
    assert(keys1 == Sampling.weighted(df, "k", col("w"))
      .select("k").as[Long].collect().sorted.toSeq, "deterministic")
    // w=0 rows never kept; w in {0.25, 0.5, 0.75} kept ~proportionally
    val byW = s1.groupBy("w").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(!byW.contains(0.0), "zero-weight rows must be dropped")
    assert(math.abs(byW(0.25) - 250L) < 60, s"got ${byW.get(0.25)}")
    assert(math.abs(byW(0.5) - 500L) < 70, s"got ${byW.get(0.5)}")
    assert(math.abs(byW(0.75) - 750L) < 70, s"got ${byW.get(0.75)}")
    // membership is per-key stable under corpus growth
    val subset = Sampling.weighted(df.filter(col("k") < 2000), "k", col("w"))
      .select("k").as[Long].collect().toSet
    assert(subset == keys1.filter(_ < 2000L).toSet, "append-stable membership")
  }

  test("bloom-prefiltered join: exact result, fact side actually pruned") {
    import graft.operators.BloomJoin
    val fact = (0L until 5000L).map(k => (k % 500, k)).toDF("fk", "payload")
    val dim = (0L until 50L).map(k => (k, s"d$k")).toDF("dk", "name")
    val expected = fact.join(dim, col("fk") === col("dk"))
      .select("fk", "payload", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val got = BloomJoin.prefilterInner(fact, dim, "fk", "dk", expectedKeys = 64)
      .select("fk", "payload", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == expected, "bloom join must equal the plain join")
    // the prefilter itself drops (nearly all) non-matching fact rows
    // BEFORE the join: 50 of 500 distinct keys match, so <= ~11% + fpp
    // of the fact survives the filter
    val bf = dim.stat.bloomFilter("dk", 64, 0.01)
    val survivors = fact.filter(
      udf((k: Long) => bf.mightContainLong(k)).apply(col("fk"))).count()
    assert(survivors < 700, s"prefilter should prune most rows, kept $survivors")
    assert(survivors >= 500, "no false negatives: every matching row survives")
    // same-name keys must work too (USING-style: one key column out)
    val gotSame = BloomJoin.prefilterInner(
      fact, dim.withColumnRenamed("dk", "fk"), "fk", "fk", expectedKeys = 64)
    assert(gotSame.columns.count(_ == "fk") == 1, "single unambiguous key column")
    assert(gotSame.count() == expected.size)
  }

  test("hot-key-aware salted join equals the plain join; profile flags the skew") {
    import graft.operators.{SaltedJoin, SkewStats}
    // key 7 holds 2/3 of the fact; 50 uniform cold keys
    val large = (0L until 3000L)
      .map(k => (if (k < 2000) 7L else k % 50, k)).toDF("key", "payload")
    val small = (0L until 50L).map(k => (k, s"v$k")).toDF("key", "name")
    val prof = SkewStats.profile(large, "key").head()
    assert(prof.getAs[Long]("max_n") == 2020 &&
      prof.getAs[Double]("skew_ratio") > 10, s"profile missed the skew: $prof")
    val hot = SkewStats.hotKeys(large, "key", minCount = 1000)
    assert(hot == Seq(7L))
    val plain = large.join(small, Seq("key"))
      .select("key", "payload", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val got = SaltedJoin.innerHotAware(large, small, "key", hot, factor = 8)
      .select("key", "payload", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == plain, "hot/cold split must partition the key space exactly")
    // empty hot list degenerates to the plain join
    assert(SaltedJoin.innerHotAware(large, small, "key", Nil).count() == plain.size)
  }

  test("incremental near-dedup finds exactly the cross-batch pairs") {
    val docs = Tables.documents(spark, sf0001)
    val full = Dedup.ngramJaccardPairs(docs, "text", "doc_id", None, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // key_a < key_b, so a cross-split pair is already (corpus, new)
    val cross = full.filter { case (a, b) => a < 250 && b >= 250 }
    assert(cross.nonEmpty, "fixture must have cross-split near-dup pairs")
    val incr = Dedup.incrementalNearDups(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
        "text", "doc_id", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr == cross, s"incremental=$incr vs cross-split exact=$cross")
  }

  test("minhash signature determinism and similarity monotonicity") {
    val p = Dedup.MinHashParams()
    val s1 = Dedup.minhashSignature("a b c d e f g h", p)
    val s2 = Dedup.minhashSignature("a b c d e f g h", p)
    assert(s1.toSeq == s2.toSeq && s1.length == p.numHashes)
    val near = Dedup.minhashSignature("a b c d e f g X", p)
    val far = Dedup.minhashSignature("q r s t u v w x", p)
    def agree(a: Array[Long], b: Array[Long]) = a.zip(b).count(t => t._1 == t._2)
    assert(agree(s1, near) > agree(s1, far))
  }

  test("minhash near-dups find the planted fixture pairs (recall 1.0)") {
    val docs = Tables.documents(spark, sf0001)
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", None, 0.8)
      .select("key_a", "key_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(docs, "text", "doc_id", 0.8)
      .select("key_a", "key_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == exact, s"minhash missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("dedup apply: LSH pair source yields the identical survivor set to exact pairs") {
    import spark.implicits._
    import graft.dedup.ConnectedComponents
    val docs = Tables.documents(spark, sf0001)
    // q104's claim, spec'd directly: dropDuplicates is pair-source-
    // agnostic, so feeding it MinHash-LSH pairs (the 100 TB path) must
    // keep exactly the rows the exact-Jaccard pairs keep
    val exactPairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", None, 0.8)
    val lshPairs = Dedup.minhashNearDups(docs, "text", "doc_id", 0.8)
    val keptExact = ConnectedComponents.dropDuplicates(docs, "doc_id", exactPairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val keptLsh = ConnectedComponents.dropDuplicates(docs, "doc_id", lshPairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptExact == keptLsh, "LSH-pair apply diverged from exact-pair apply")
    assert(keptExact.size < docs.count(), "fixture must actually drop near-dups")
  }

  test("embedding LSH recall 1.0 on planted high-cosine pairs (design regime)") {
    import spark.implicits._
    // 40 base vectors plus a slightly-perturbed twin for 10 of them:
    // every (i, i+100) pair has cosine >= ~0.99, everything else is
    // near-random. Defaults must find ALL planted pairs.
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(32)(rnd.nextGaussian().toFloat)
    val base = (0L until 40L).map(i => (i, vec()))
    val twins = base.take(10).map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val found = graft.dedup.Dedup
      .embeddingNearDups(df, "vec_id", "embedding", threshold = 0.9)
      .select("key_a", "key_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 10L).map(i => (i, i + 100L)).toSet
    assert(planted.subsetOf(found),
      s"missed planted near-dups: ${planted -- found}")
  }

  test("decontamination flags exactly the docs carrying a probe phrase") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "noise words here then alpha beta gamma delta embedded deep"),
      (3L, "completely clean document with none of it"),
      (4L, "alpha beta gamma delta alpha beta gamma delta twice over")
    ).toDF("doc_id", "text")
    val hits = Dedup.contaminatedDocs(docs, "text", "doc_id",
      probes = Seq("alpha beta gamma delta"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 4 contains the probe twice but matches once (set semantics)
    assert(hits == Map(1L -> 1L, 2L -> 1L, 4L -> 1L))
  }

  test("minhash candidate plan: one bands pass, no join, no window") {
    val docs = Tables.documents(spark, sf0001)
    val plan = Dedup.minhashCandidates(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    // pair generation is grouped-bucket explode: the expensive minhash
    // UDF must appear in exactly one scan subtree — no self-join (which
    // would evaluate it per side) and no window bucket-count
    assert(!plan.contains("Join"), s"candidate generation regressed to a self-join:\n$plan")
    assert(!plan.contains("Window"), s"bucket cap regressed to a window count:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected a single documents scan, got $scans:\n$plan")
  }

  test("jaccard bounds and identity") {
    assert(Dedup.jaccard("a b c d", "a b c d", 3) == 1.0)
    assert(Dedup.jaccard("a b c d", "w x y z", 3) == 0.0)
    val j = Dedup.jaccard("a b c d e", "a b c d f", 3)
    assert(j > 0 && j < 1)
  }

  test("simhash: identical texts 0 hamming, near texts < far texts") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = Dedup.simhash64("the quick brown fox jumps over the lazy dog")
    assert(ham(base, Dedup.simhash64("the quick brown fox jumps over the lazy dog")) == 0)
    val near = Dedup.simhash64("the quick brown fox jumps over the lazy cat")
    val far = Dedup.simhash64("completely different words entirely unrelated")
    assert(ham(base, near) < ham(base, far))
  }

  test("simhash near-dup pairs include exact dups") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "unrelated content here totally")).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, "text", "doc_id", maxHamming = 3)
      .select("key_a", "key_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("hamming near-dups: a degenerate bucket takes the streaming join path, same pairs") {
    // 1500 identical sketches collapse into ONE bucket per block — far
    // over the in-UDF pairing cap, so they route through the join path
    // (the round-11 OOM-cliff fix); a small distinct cluster rides the
    // UDF path in the same call. Expected output is closed-form.
    val hot = (1L to 1500L).map(k => (k, 0x0123456789ABCDEFL))
    val nearA = (2001L, 0x0123456789ABCDEEL) // hamming 1 from the hot hash
    val coldB = (3001L, 0x7777000011115555L)
    val coldB2 = (3002L, 0x7777000011115554L) // hamming 1 from coldB
    val df = (hot :+ nearA :+ coldB :+ coldB2).toDF("k", "h")
    val pairs = Dedup.hammingNearDups(df, "k", "h", maxHamming = 3)
    val n = pairs.count()
    // hot x hot (C(1500,2)) + hot x nearA (1500) + the cold pair
    val expected = 1500L * 1499 / 2 + 1500 + 1
    assert(n == expected, s"pair count $n != closed-form $expected")
    // spot-check both paths' outputs coexist and are Hamming-correct
    val sample = pairs.filter(col("key_a") === 1L && col("key_b") === 2001L)
      .select("hamming").collect()
    assert(sample.map(_.getLong(0)).toSeq == Seq(1L))
    assert(pairs.filter(col("key_a") === 3001L && col("key_b") === 3002L)
      .count() == 1L)
    // keys are ordered and distinct in every row (both paths emit a < b)
    assert(pairs.filter(col("key_a") >= col("key_b")).count() == 0L)
  }

  test("hamming near-dups: value-collapsed enumeration equals the naive all-pairs model") {
    // mixed multiplicities across BOTH paths: two fat value clusters
    // (1200 + 900 members — their shared blocks cross UdfBucketMax, so
    // they ride the value-join path with a live diagonal AND a
    // qualifying cross-value pair), plus small clusters and distinct
    // singletons for the UDF path. The naive model is a full n^2
    // bitCount scan with the canonical-bucket cap rule inlined.
    val sketches: Seq[(Long, Long)] =
      (1L to 1200L).map(k => (k, 0x1111222233334444L)) ++
      (2001L to 2900L).map(k => (k, 0x1111222233334445L)) ++ // hamming 1
      Seq((5001L, 0x1111222233730444L),  // hamming 3 from cluster A
          (5002L, 0x5555666677778888L), (5003L, 0x5555666677778889L),
          (5004L, 0x0F0F0E0E0D0D0C0CL), (5005L, 0x726AB1C29D34E5F6L))
    val df = sketches.toDF("k", "h")
    val got = Dedup.hammingNearDups(df, "k", "h", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val byBlockCount = sketches.flatMap { case (_, h) =>
      (0 until 4).map(b => (b, (h >>> (b * 16)) & 0xFFFFL))
    }.groupBy(identity).map { case (bv, xs) => bv -> xs.size }
    def firstAgree(x: Long): Int =
      (0 until 4).find(i => ((x >>> (i * 16)) & 0xFFFFL) == 0L).getOrElse(4)
    val want = (for {
      (ka, ha) <- sketches
      (kb, hb) <- sketches
      if ka < kb
      x = ha ^ hb
      hm = java.lang.Long.bitCount(x)
      if hm <= 3
      c = firstAgree(x)
      if byBlockCount((c, (ha >>> (c * 16)) & 0xFFFFL)) <= 100000
    } yield (ka, kb, hm.toLong)).toSet
    assert(got == want,
      s"missed ${(want -- got).take(5)}, extra ${(got -- want).take(5)}")
  }

  test("embedding near-dups (multi-table LSH) match the exact pair set") {
    val e = Tables.embeddings(spark, sf0001)
    val exact = {
      val cos = graft.functions.VectorFunctions.cosine(col("a.embedding"), col("b.embedding"))
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .withColumn("c", cos).filter(col("c") >= 0.9)
        .select("a.vec_id", "b.vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val lsh = Dedup.embeddingNearDups(e, "vec_id", "embedding", 0.9)
      .select("key_a", "key_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // OR-amplified LSH at cosine>=0.9 should reach full recall on 500 rows
    assert(lsh == exact, s"missed ${exact -- lsh}, extra ${lsh -- exact}")
    // auto bit sizing keeps expected bucket occupancy ~constant: the
    // corpus-sized table count that keeps candidate pairs linear
    assert(Dedup.autoBits(100) == 4, "floor")
    assert(Dedup.autoBits(1024 * 32) == 10)
    assert(Dedup.autoBits(2000000) == 16)
    assert(Dedup.autoBits(Long.MaxValue) == 24, "ceiling")
    // bits = 0 routes through the auto path and still finds the pairs
    val auto = Dedup.embeddingNearDups(e, "vec_id", "embedding", 0.9, bits = 0)
      .select("key_a", "key_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == exact, s"auto-bits missed ${exact -- auto}")
  }

  test("exact jaccard pairs refuse oversized input; capped form stays open") {
    import spark.implicits._
    val big = spark.range(51)
      .select(col("id").as("doc_id"), lit("a b c d e f").as("text"))
    val ex = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(big, "text", "doc_id", None, 0.8,
        maxExactRows = 50)
    }
    assert(ex.getMessage.contains("verification twin"))
    // the capped (scale) form is not guarded — it is Σdf-bounded
    Dedup.ngramJaccardPairs(big, "text", "doc_id", None, 0.8,
      maxShingleDf = Some(10), maxExactRows = 50).count()
    // and the exact form still works at fixture scale (q26's oracle path)
    val docs = Tables.documents(spark, sf0001)
    assert(Dedup.ngramJaccardPairs(docs, "text", "doc_id", None, 0.8)
      .count() > 0)
  }

  test("q29's all-pairs guard still trips on oversized input (limit-bounded probe)") {
    val dir = tempDir("graft-q29-guard")
    spark.range(10001)
      .select(col("id").as("vec_id"),
        array(lit(0.1f), lit(0.2f)).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.queries("q29_cosine_pairs")(spark, dir)
    }
    assert(ex.getMessage.contains("verification twin"))
  }
}

class AnnSpec extends SparkSpec {

  test("range-sorted layout: a key-range scan skips non-overlapping row groups") {
    import graft.operators.Layout
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val base = tempDir("graft_layout")
    // sorted layout: 8 files, each covering ~1/8 of the key range
    Layout.writeRangeSorted(docs, s"$base/sorted", "doc_id", nFiles = 8)
    // unsorted layout: same 8 files, keys scattered round-robin
    docs.repartition(8).write.parquet(s"$base/shuffled")
    val pred = col("doc_id").between(100, 120)
    val sortedRead = scanRows(spark.read.parquet(s"$base/sorted").filter(pred))
    val shuffledRead = scanRows(spark.read.parquet(s"$base/shuffled").filter(pred))
    // parquet min/max stats let the sorted layout skip ~7 of 8 row
    // groups; the scattered layout must surface every row group's rows
    assert(sortedRead <= 130, s"sorted layout read $sortedRead rows, expected ~1 row group")
    assert(shuffledRead >= 450, s"scattered layout should read ~everything, got $shuffledRead")
    // both layouts produce identical query results
    assert(spark.read.parquet(s"$base/sorted").filter(pred).count() == 21)
  }

  test("z-ordered layout prunes on BOTH columns where a single sort cannot") {
    import spark.implicits._
    import graft.operators.Layout
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    // a 100x100 grid: x and y independent, 10k rows
    val grid = (0 until 10000).map(i => (i.toLong, (i % 100).toLong, (i / 100).toLong))
      .toDF("id", "x", "y")
    val base = tempDir("graft_zorder")
    Layout.writeZOrdered(grid, s"$base/z", Seq("x", "y"), nFiles = 16,
      bitsPerCol = 8)
    Layout.writeRangeSorted(grid, s"$base/xsorted", "x", nFiles = 16)
    // a predicate on y alone: the x-sorted layout scatters y across
    // every row group and reads ~everything; the z-ordered layout keeps
    // y clustered too and skips most groups
    val pred = col("y").between(10, 15)
    val zRead = scanRows(spark.read.parquet(s"$base/z").filter(pred))
    val xRead = scanRows(spark.read.parquet(s"$base/xsorted").filter(pred))
    assert(xRead >= 9000, s"x-sorted layout should read ~all rows for a y box, got $xRead")
    assert(zRead <= xRead / 2,
      s"z-ordered layout must skip most row groups on y, got $zRead vs $xRead")
    // identical results from both layouts
    assert(spark.read.parquet(s"$base/z").filter(pred).count() == 600)
    assert(spark.read.parquet(s"$base/xsorted").filter(pred).count() == 600)
    // a 2-D box on the z layout prunes even harder than the y box
    val box = col("x").between(20, 29) && col("y").between(10, 15)
    val zBox = scanRows(spark.read.parquet(s"$base/z").filter(box))
    assert(zBox <= zRead, s"2-D box must not read more than its y slice: $zBox vs $zRead")
    assert(spark.read.parquet(s"$base/z").filter(box).count() == 60)
    // guards
    intercept[IllegalArgumentException] {
      Layout.writeZOrdered(grid, s"$base/bad", Seq("x"), 4)
    }
    intercept[IllegalArgumentException] {
      Layout.writeZOrdered(grid, s"$base/bad", Seq("x", "y"), 4, bitsPerCol = 40)
    }
  }

  test("IVF/PQ training sample is content-blind on a key-sorted corpus") {
    import spark.implicits._
    // adversarial import order: keys correlate with content — keys
    // 0..499 cluster around +e1, keys 500..999 around -e1 (two
    // "languages" imported one after the other). A first-N-by-key
    // sample sees ONLY the first cluster and trains every centroid
    // there; the hash-ordered sample must see both.
    val rnd = new scala.util.Random(11)
    def v(sign: Double) = Array.tabulate(8)(i =>
      (if (i == 0) sign else 0.02 * rnd.nextGaussian()).toFloat)
    val df = ((0L until 500L).map(k => (k, v(1.0).toSeq)) ++
      (500L until 1000L).map(k => (k, v(-1.0).toSeq))).toDF("vec_id", "embedding")
    val centers = Ann.ivfTrain(df, "vec_id", "embedding", k = 2, sampleN = 200)
    val signs = centers.map(c => math.signum(c(0))).toSet
    assert(signs == Set(1.0, -1.0),
      s"both clusters must be represented in the centroids, got first " +
        s"components ${centers.map(_(0)).toSeq}")
    // determinism: the hash order is a pure function of the keys
    val again = Ann.ivfTrain(df, "vec_id", "embedding", k = 2, sampleN = 200)
    assert(centers.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // recall sanity: a cluster-B query probing its nearest list finds B
    val assigned = Ann.ivfAssign(df, "embedding", centers)
    val q = v(-1.0)
    val top = Ann.ivfTopK(assigned, centers, q, k = 5, nProbe = 1,
      keyCol = "vec_id", embCol = "embedding").collect().map(_.getLong(0))
    assert(top.forall(_ >= 500L), s"B-cluster query must hit B keys, got ${top.toSeq}")
  }

  test("LSH ANN recall@10 against exact top-10") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"))
    val q = e.filter(col("_key") === 3).select("embedding").head().getSeq[Float](0).toArray
    val planes = Ann.hyperplanes(dim = q.length, bits = 6, seed = 42L)
    val bucketed = Ann.withBucket(e, "embedding", planes)
    val exact = graft.search.Search.topK(e, q, 10).collect().map(_.getLong(0)).toSet
    val approx = Ann.annTopK(bucketed, q, planes, 10).collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size / 10.0
    assert(approx.contains(3L), "self-match must be found (same bucket trivially)")
    assert(recall >= 0.3, s"multi-probe recall@10 unexpectedly low: $recall")
  }

  test("kNN self-join: exact page shape, IVF exhaustive == exact, probed recall") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"))
    def page(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(t => (t._1, -t._3, t._2))
    val exact = page(Ann.knnJoinExact(e, "_key", "embedding", 3))
    val n = e.count()
    assert(exact.size == n * 3, "every source key must get exactly k neighbors")
    // the top neighbor of key 3 is exact search's best non-self hit
    val q3 = e.filter(col("_key") === 3).select("embedding").head().getSeq[Float](0).toArray
    val best = graft.search.Search.topK(e, q3, 2)
      .collect().map(_.getLong(0)).filter(_ != 3L).head
    assert(exact.filter(_._1 == 3L).maxBy(_._3)._2 == best)
    // exhaustive probing makes every pair a candidate: equal bit-for-bit
    val ivfAll = page(Ann.knnJoinIvf(e, "_key", "embedding", 3,
      nLists = 8, nProbe = 8))
    assert(ivfAll == exact)
    // probed recall: nProbe=2 of 8 lists keeps most true neighbors
    val ivf2 = page(Ann.knnJoinIvf(e, "_key", "embedding", 3,
      nLists = 8, nProbe = 2)).map(t => (t._1, t._2)).toSet
    val recall = exact.map(t => (t._1, t._2)).count(ivf2.contains) / exact.size.toDouble
    assert(recall >= 0.5, s"probed kNN recall unexpectedly low: $recall")
    // batch search (queries vs disjoint corpus): exhaustive == exact,
    // every query gets exactly k, no query key leaks into the results
    val qs = e.filter(col("_key") < 10)
    val corpus = e.filter(col("_key") >= 10)
    val bExact = page(Ann.searchBatchExact(qs, corpus, "_key", "embedding", 3))
    assert(bExact.size == 30 && bExact.forall(_._2 >= 10))
    assert(page(Ann.searchBatchIvf(qs, corpus, "_key", "embedding", 3,
      nLists = 8, nProbe = 8)) == bExact)
  }

  test("hard negatives: all different-label, IVF exhaustive == exact, k-deep") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"), col("label"))
    def page(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(t => (t._1, -t._3, t._2))
    val exact = page(Ann.hardNegativesExact(e, "_key", "embedding", "label", 3))
    val n = e.count()
    assert(exact.size == n * 3, "every source gets k negatives (labels are 10-way)")
    // every mined neighbor really carries a different label
    val labelOf = e.select("_key", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(exact.forall { case (s, nb, _) => labelOf(s) != labelOf(nb) })
    // negatives are HARD: key 3's top negative beats its weakest
    // same-label neighbor from the unrestricted kNN page
    val knn = page(Ann.knnJoinExact(e, "_key", "embedding", 3))
    assert(exact.filter(_._1 == 3L).map(_._3).max >=
      knn.filter(_._1 == 3L).map(_._3).min - 1e-9)
    // exhaustive probing == exact bit-for-bit; probed recall reasonable
    assert(page(Ann.hardNegativesIvf(e, "_key", "embedding", "label", 3,
      nLists = 8, nProbe = 8)) == exact)
    val probed = page(Ann.hardNegativesIvf(e, "_key", "embedding", "label", 3,
      nLists = 8, nProbe = 2)).map(t => (t._1, t._2)).toSet
    val recall = exact.map(t => (t._1, t._2)).count(probed.contains) / exact.size.toDouble
    assert(recall >= 0.5, s"probed hard-negative recall unexpectedly low: $recall")
  }

  test("contrastive triplets: positive same-label, negatives hard, IVF exhaustive == exact") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"), col("label"))
    def page(df: org.apache.spark.sql.DataFrame) = df
      .select("src", "pos", "pos_sim", "neg", "neg_sim", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq.sortBy(t => (t._1, t._6))
    val exact = page(Ann.contrastiveTriplets(e, "_key", "embedding", "label", 2))
    val n = e.count()
    assert(exact.size == n * 2, "every anchor pages 2 negatives (10-way labels)")
    val labelOf = e.select("_key", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    exact.foreach { case (s, p, psim, g, nsim, _) =>
      assert(labelOf(s) == labelOf(p) && s != p, "positive shares the label")
      assert(labelOf(s) != labelOf(g), "negative crosses labels")
      // triplet-loss sanity on this fixture: not universally ordered,
      // but sims are valid cosines
      assert(psim <= 1.0 + 1e-9 && nsim <= 1.0 + 1e-9)
    }
    // ranks are 1..kNeg per anchor
    assert(exact.groupBy(_._1).values.forall(_.map(_._6).sorted == Seq(1L, 2L)))
    // exhaustive probing == exact bit-for-bit
    assert(page(Ann.contrastiveTripletsIvf(e, "_key", "embedding", "label", 2,
      nLists = 8, nProbe = 8)) == exact)
  }

  test("filtered ANN: allowedKeys == ANN over a pre-filtered frame, no leaks") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"))
    val q = e.filter(col("_key") === 11).select("embedding").head().getSeq[Float](0).toArray
    val allowed = e.filter(col("_key") % 3 === 0).select(col("_key"))
    def page(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // IVF: the filter after list pruning must equal ANN run over an
    // already-filtered assignment (same probes, same scoring domain)
    val centers = Ann.ivfTrain(e, "_key", "embedding", k = 8)
    val assigned = Ann.ivfAssign(e, "embedding", centers).cache()
    val filtered = page(Ann.ivfTopK(assigned, centers, q, 10, nProbe = 2,
      allowedKeys = Some(allowed)))
    val prefiltered = page(Ann.ivfTopK(
      assigned.filter(col("_key") % 3 === 0), centers, q, 10, nProbe = 2))
    assert(filtered == prefiltered && filtered.nonEmpty)
    assert(filtered.forall(_._1 % 3 == 0), s"disallowed keys leaked: $filtered")
    assigned.unpersist()
    // LSH: same contract through the bucketed path
    val planes = Ann.hyperplanes(dim = q.length, bits = 6, seed = 42L)
    val bucketed = Ann.withBucket(e, "embedding", planes).cache()
    val f2 = page(Ann.annTopK(bucketed, q, planes, 10,
      allowedKeys = Some(allowed)))
    val p2 = page(Ann.annTopK(bucketed.filter(col("_key") % 3 === 0), q, planes, 10))
    assert(f2 == p2 && f2.nonEmpty && f2.forall(_._1 % 3 == 0))
    bucketed.unpersist()
  }

  test("IVF probes fewer rows and still finds the self-match") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"))
    val q = e.filter(col("_key") === 11).select("embedding").head().getSeq[Float](0).toArray
    val centers = Ann.ivfTrain(e, "_key", "embedding", k = 8)
    assert(centers.length == 8)
    val assigned = Ann.ivfAssign(e, "embedding", centers).cache()
    val probed = Ann.ivfTopK(assigned, centers, q, 10, nProbe = 2).collect()
    assert(probed.map(_.getLong(0)).contains(11L))
    // buckets are real partitions of the data
    val sizes = assigned.groupBy("list_id").count().collect().map(_.getLong(1))
    assert(sizes.sum == 500 && sizes.length > 1)
    assigned.unpersist()
  }

  test("PQ: codes are m bytes, self-match ranks first, ADC tracks true distance") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"))
    val q = e.filter(col("_key") === 7).select("embedding").head().getSeq[Float](0).toArray
    val cb = Ann.pqTrain(e, "_key", "embedding", m = 8, k = 16)
    assert(cb.length == 8 && cb.forall(_.length == 16) && cb.forall(_.forall(_.length == 8)))
    val enc = Ann.pqEncode(e, "embedding", cb).cache()
    assert(enc.select("code").head().getAs[Array[Byte]](0).length == 8)
    // the query IS a database vector: its ADC distance is the minimum
    // achievable for its own code, so it must rank at the very top
    val top = Ann.pqTopK(enc, cb, q, 10, "_key").collect()
    assert(top.head.getLong(0) == 7L || top.map(_.getLong(0)).take(3).contains(7L),
      s"self-match missing from PQ top-3: ${top.map(_.getLong(0)).toSeq}")
    // deterministic across invocations
    val top2 = Ann.pqTopK(enc, cb, q, 10, "_key").collect()
    assert(top.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      top2.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // ADC approximates true L2: the PQ top-10 should overlap the exact
    // L2 top-10 (loose bound — 8 bytes per 64-dim vector is a hard ask)
    import org.apache.spark.sql.functions.{udf => sudf}
    val l2 = sudf { (v: Seq[Float]) =>
      v.zip(q).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
    }
    val exact = e.select(col("_key"), l2(col("embedding")).as("d"))
      .orderBy(asc("d"), col("_key")).limit(10).collect().map(_.getLong(0)).toSet
    val overlap = top.map(_.getLong(0)).toSet.intersect(exact).size
    assert(overlap >= 2, s"PQ/exact overlap too low: $overlap")
    enc.unpersist()
  }

  test("PQ rerank: candidates from ADC, final ranking exact, recall >= plain PQ") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"))
    val q = e.filter(col("_key") === 7).select("embedding").head().getSeq[Float](0).toArray
    val cb = Ann.pqTrain(e, "_key", "embedding", m = 8, k = 16)
    val enc = Ann.pqEncode(e, "embedding", cb).cache()
    val cand = Ann.pqTopK(enc, cb, q, 40, "_key").collect().map(_.getLong(0)).toSet
    val rr = Ann.pqTopKRerank(enc, e, cb, q, k = 10, fetchK = 40, "_key")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // reranked rows all come from the candidate window, exact-ordered
    assert(rr.map(_._1).forall(cand.contains), "rerank must stay inside candidates")
    assert(rr.map(_._2).toSeq == rr.map(_._2).sorted(Ordering[Double].reverse).toSeq)
    // the exact pass recovers the true top within the window: rerank
    // top-10 == exact cosine top-10 restricted to the candidate set
    val exactInWindow = e.filter(col("_key").isin(cand.toSeq.map(Long.box): _*))
      .select(col("_key"), graft.search.Search.scoreAgainst(col("embedding"), q).as("s"))
      .orderBy(desc("s"), col("_key")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(rr.map(_._1).toSeq == exactInWindow)
    // recall vs the true exact top-10 can only improve over plain PQ
    val exactTop = e.select(col("_key"),
        graft.search.Search.scoreAgainst(col("embedding"), q).as("s"))
      .orderBy(desc("s"), col("_key")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val pqRecall = Ann.pqTopK(enc, cb, q, 10, "_key").collect()
      .map(_.getLong(0)).toSet.intersect(exactTop).size
    val rrRecall = rr.map(_._1).toSet.intersect(exactTop).size
    assert(rrRecall >= pqRecall, s"rerank recall $rrRecall < plain PQ $pqRecall")
    enc.unpersist()
  }

  test("IVF-PQ: coarse probe + ADC equals PQ restricted to the probed lists") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"))
    val q = e.filter(col("_key") === 7).select("embedding").head().getSeq[Float](0).toArray
    val centers = Ann.ivfTrain(e, "_key", "embedding", k = 8)
    val cb = Ann.pqTrain(e, "_key", "embedding", m = 8, k = 16)
    val both = Ann.pqEncode(Ann.ivfAssign(e, "embedding", centers), "embedding", cb).cache()
    val got = Ann.ivfPqTopK(both, centers, cb, q, 10, nProbe = 3, "_key")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probes = Ann.ivfProbes(centers, q, 3).map(Integer.valueOf)
    val want = Ann.pqTopK(both.filter(col("list_id").isin(probes: _*)), cb, q, 10, "_key")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    assert(got.map(_._1).contains(7L), "self-match must survive its own probed list")
    both.unpersist()
  }

  test("bucket-partitioned index prunes partitions on probe") {
    val dir = tempDir("graft_annidx") + "/idx"
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"))
    val q = e.filter(col("_key") === 5).select("embedding").head().getSeq[Float](0).toArray
    val planes = Ann.hyperplanes(dim = q.length, bits = 4, seed = 42L)
    Ann.writeIndex(e, "embedding", planes, dir)
    val indexed = spark.read.parquet(dir)
    val probes = Ann.probeBuckets(q, planes)
    val plan = indexed.filter(col("bucket").isin(probes: _*))
      .queryExecution.executedPlan.toString
    // the bucket filter must be a partition filter on the directory layout,
    // not a post-scan row filter
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"partition pruning missing from plan:\n$plan")
    val hits = Ann.annTopK(indexed, q, planes, 5).collect()
    assert(hits.map(_.getLong(0)).contains(5L))
  }

  test("IVF list-partitioned index prunes to the probed lists") {
    val dir = tempDir("graft_ivfidx") + "/idx"
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"))
    val q = e.filter(col("_key") === 5).select("embedding").head().getSeq[Float](0).toArray
    val centers = Ann.ivfTrain(e, "_key", "embedding", k = 8, iters = 5, sampleN = 500)
    Ann.ivfWriteIndex(e, "embedding", centers, dir)
    val indexed = spark.read.parquet(dir)
    val nProbe = 2
    val plan = Ann.ivfTopK(indexed, centers, q, k = 5, nProbe = nProbe)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"partition pruning missing from plan:\n$plan")
    val hits = Ann.ivfTopK(indexed, centers, q, k = 5, nProbe = nProbe).collect()
    assert(hits.map(_.getLong(0)).contains(5L))
    // proof from the data path, not just the plan string: the files the
    // probed query ACTUALLY reads all live under the nProbe probed
    // list_id= directories
    val probes = Ann.ivfProbes(centers, q, nProbe)
    val dirsRead = indexed
      .filter(col("list_id").isin(probes.map(Integer.valueOf): _*))
      .select(input_file_name().as("f")).distinct().collect()
      .map(_.getString(0))
      .flatMap(_.split("/").find(_.startsWith("list_id=")))
      .toSet
    assert(dirsRead.nonEmpty && dirsRead.subsetOf(probes.map(p => s"list_id=$p").toSet),
      s"scan escaped the probed lists: read $dirsRead, probed $probes")
    assert(dirsRead.size <= nProbe)
  }

  test("upsert: updates replace, new keys append, untouched rows survive") {
    import graft.operators.Upsert
    import spark.implicits._
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "n")
    val upd = Seq((2L, "B2", 99), (9L, "new", 1)).toDF("k", "v", "n")
    val got = Upsert(base, upd, "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set((1L, "a", 10), (2L, "B2", 99), (3L, "c", 30), (9L, "new", 1)))
    // the documented COALESCE caveat: a null update column falls back
    val nullUpd = Seq((3L, null.asInstanceOf[String], 77)).toDF("k", "v", "n")
    val merged = Upsert(base, nullUpd, "k").filter(col("k") === 3L).head()
    assert(merged.getString(1) == "c" && merged.getInt(2) == 77)
    // schema mismatch fails loudly
    intercept[IllegalArgumentException] {
      Upsert(base, upd.select("k", "v"), "k")
    }
  }

  test("distributed prefix sum equals the single-partition window") {
    import graft.operators.PrefixSum
    val ord = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_totalprice")) // o_orderkey is unique
    val got = PrefixSum.runningTotal(ord,
      Seq(col("o_orderkey").asc), col("o_totalprice"), "running")
      .select(col("o_orderkey"), col("running"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("o_orderkey").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val want = ord.withColumn("running",
      sum(col("o_totalprice").cast("long")).over(w))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.size == want.size && got == want)
  }

  test("grouped prefix sum equals the per-group window, groups spanning partitions") {
    import graft.operators.PrefixSum
    // customers grouped by mktsegment: ~5 groups over the range partitions
    // (shuffle.partitions=4 in tests), so groups straddle boundaries
    val cust = Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val got = PrefixSum.runningTotalBy(cust, Seq("c_mktsegment"),
      Seq(col("c_custkey").asc), col("c_acctbal"), "running")
      .select(col("c_custkey"), col("running"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment")).orderBy(col("c_custkey").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val want = cust.withColumn("running",
      sum(col("c_acctbal").cast("long")).over(w))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got.size == want.size && got == want)
  }

  test("time-bucketed range join equals the naive band join") {
    import graft.operators.RangeJoin
    val e = Tables.events(spark, sf0001).select(col("user_id"), col("ts"), col("event_id"))
    val bucketed = RangeJoin.pairsWithin(e, Seq("user_id"), "ts", windowSec = 60)
      .select(col("a_event_id"), col("b_event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.ts") > col("a.ts") &&
          col("b.ts") <= col("a.ts") + expr("INTERVAL 1 MINUTE"))
      .select(col("a.event_id"), col("b.event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == naive)
    assert(naive.nonEmpty, "fixture should contain within-minute pairs")
  }

  test("bucket determinism across invocations") {
    val planes = Ann.hyperplanes(16, 8, 7L)
    val planes2 = Ann.hyperplanes(16, 8, 7L)
    assert(planes.flatten.toSeq == planes2.flatten.toSeq)
    val v = Array.tabulate(16)(i => (i * 0.1 - 0.5).toFloat)
    assert(Ann.bucketOf(v, planes) == Ann.bucketOf(v, planes2))
  }
}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("PII scrub redacts emails, phones, IPv4s and leaves clean text alone") {
    val df = Seq(
      "write to Jane.Doe+tag@Corp.Example.ORG today",
      "call 555-123-4567 or 555.987.6543",
      "server at 192.168.1.254 timed out",
      "version 1.2 of chapter 3.4 is out",       // dotted numbers, NOT an IP
      "clean text with no pii at all").toDF("text")
      .select(TextFunctions.scrubPii(col("text")).as("s"))
    val got = df.as[String].collect().toSeq
    assert(got(0) == "write to <EMAIL> today")
    assert(got(1) == "call <PHONE> or <PHONE>")
    assert(got(2) == "server at <IP> timed out")
    assert(got(3) == "version 1.2 of chapter 3.4 is out")
    assert(got(4) == "clean text with no pii at all")
  }

  test("stripHtml: tags, script/style content, entity order, whitespace collapse") {
    val df = Seq(
      "<p>hello <b>world</b></p>",
      "pre<script type=\"x\">var a = '<b>not text</b>';</script>post",
      "s<style>p { color: red }</style>e",
      "a &amp;lt; b &lt;x&gt; &quot;q&quot; &#39;s &nbsp;c &amp; d",
      "<div\nclass='m'>multi\nline</div>",
      "plain text stays").toDF("text")
      .select(TextFunctions.stripHtml(col("text")).as("s"))
    val got = df.as[String].collect().toSeq
    assert(got(0) == "hello world")
    // script CONTENT dies with the element, not just its tags
    assert(got(1) == "pre post")
    assert(got(2) == "s e")
    // &amp;lt; unescapes to the literal text '&lt;' (amp LAST), never '<'
    assert(got(3) == "a &lt; b <x> \"q\" 's c & d")
    assert(got(4) == "multi line")
    assert(got(5) == "plain text stays")
  }

  test("lineDedup: keep-first across docs, minLen passthrough, full-doc fold, no lost keys") {
    val docs = Seq(
      (1L, "boiler\nunique one\nboiler2"),
      (2L, "unique two\n\nboiler"),       // blank line: sub-minLen, kept
      (3L, "boiler\nboiler2"),            // every line a repeat -> empty
      (4L, "boiler\nboiler\nunique four") // intra-doc repeat also dedups
    ).toDF("id", "text")
    val got = Dedup.lineDedup(docs, "text", "id")
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      // doc 1 is the first (key, pos) owner of both boilerplate lines
      (1L, "boiler\nunique one\nboiler2", 3L, 0L),
      (2L, "unique two\n", 2L, 1L),
      (3L, "", 0L, 2L),
      (4L, "unique four", 1L, 2L)), got)
    // minLen raised: 6-char 'boiler' lines fall under it and all survive
    val loose = Dedup.lineDedup(docs, "text", "id", minLen = 7)
      .orderBy(col("id")).collect().map(_.getLong(3)).toSeq
    assert(loose == Seq(0L, 0L, 1L, 0L), loose) // only 'boiler2' still dedups
  }

  test("PII scrub edge cases: dotted digit runs, octet ranges, sentence-end phones") {
    val df = Seq(
      "host 192.168.100.1234 up",  // longer dotted run: neither phone nor IP fires
      "ver 1.2.3.400 here",        // octet > 255: not an IP
      "ip 10.0.200.7 up",
      "call 555-123-4567.",        // phone before a sentence-ending dot still redacts
      "x 555.123.4567.8901 y",     // dotted run: no partial phone
      "edge 255.255.255.255!",
      "a255.1.1.1 not-ip",         // no word boundary before first octet
      "555-123-4567 starts",
      "end.555-123-4567",          // hyphen phone right after a dot still redacts
      "x 555-123-4567.5 y",        // ...and before a dotted decimal
      "call 555.123.4567. next").toDF("text")
      .select(TextFunctions.scrubPii(col("text")).as("s"))
    val got = df.as[String].collect().toSeq
    assert(got(0) == "host 192.168.100.1234 up")
    assert(got(1) == "ver 1.2.3.400 here")
    assert(got(2) == "ip <IP> up")
    assert(got(3) == "call <PHONE>.")
    assert(got(4) == "x 555.123.4567.8901 y")
    assert(got(5) == "edge <IP>!")
    assert(got(6) == "a255.1.1.1 not-ip")
    assert(got(7) == "<PHONE> starts")
    assert(got(8) == "end.<PHONE>")
    assert(got(9) == "x <PHONE>.5 y")
    assert(got(10) == "call <PHONE>. next")
  }

  test("token counts handle blanks and whitespace runs") {
    val df = Seq("a b  c", "", "   ", "one").toDF("text")
      .select(TextFunctions.tokenCount(col("text")).as("n"))
    assert(df.as[Int].collect().toSeq == Seq(3, 0, 0, 1))
  }

  test("quality score in [0,1], higher for natural text than noise") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and runs in a field of grass today",
      "@@@@ #### $$$$ 1234 %%%% ^^^^ 5678 &&&& !!!!").toDF("text")
      .select(TextFunctions.qualityScore(col("text")).as("q"))
    val Array(good, bad) = df.as[Double].collect()
    assert(good > bad)
    assert(good >= 0 && good <= 1 && bad >= 0 && bad <= 1)
  }

  test("langId picks marker language, handles cjk and blanks") {
    assert(TextFunctions.detectLang("the cat is on the mat") == "en")
    assert(TextFunctions.detectLang("der Hund ist nicht ein Tier") == "de")
    assert(TextFunctions.detectLang("el perro es una mascota") == "es")
    assert(TextFunctions.detectLang("你好世界你好世界") == "zh")
    assert(TextFunctions.detectLang("") == "und")
    assert(TextFunctions.detectLang("zzz qqq vvv") == "und")
  }

  test("fingerprint is whitespace/case insensitive") {
    val fps = Seq("Hello  World", "hello world", "different")
      .toDF("text").select(TextFunctions.fingerprintMd5(col("text"))).as[String].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("rolling hash deterministic and normalization-insensitive") {
    assert(TextFunctions.rollingHash("a b c") == TextFunctions.rollingHash("A  B c "))
    assert(TextFunctions.rollingHash("abc") != TextFunctions.rollingHash("abd"))
  }

  test("word shingles column form matches scala sliding") {
    val got = Seq("a b c d e").toDF("text")
      .select(TextFunctions.wordShingles(col("text"), 3)).as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d", "c d e"))
  }
}

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("batch sessionize: gap starts new session") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val df = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(100), 3.0),
      (2L, ts(5), 4.0)).toDF("user_id", "ts", "value")
    val sessions = Streams.sessionizeBatch(df, gapMinutes = 30).collect()
    assert(sessions.length == 3)
    val u1 = sessions.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(u1.head.getAs[Long]("n_events") == 2)
  }

  test("streaming sessionize agrees with batch twin on a closed input") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val rows = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(100), 3.0),
      (2L, ts(5), 4.0), (2L, ts(50), 5.0))
    val batch = Streams.sessionizeBatch(
      rows.toDF("user_id", "ts", "value"), 30)
      .select("user_id", "session_seq", "n_events", "value_sum")
      .collect().map(_.toSeq).toSet

    // drive the flatMapGroupsWithState pipeline through a memory stream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    val evs = mem.toDS().map(t => Streams.Ev(t._1, new java.sql.Timestamp(t._2), t._3))
    val out = Streams.sessionizeStream(evs, 30)
    val query = out.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    mem.addData(rows.map(r => (r._1, r._2.getTime, r._3)))
    query.processAllAvailable()
    // push watermark far past all sessions so timeouts fire and emit
    mem.addData((99L, ts(10000).getTime, 0.0))
    query.processAllAvailable()
    mem.addData((99L, ts(20000).getTime, 0.0))
    query.processAllAvailable()
    val streamed = spark.table("sessions_out")
      .filter(col("user_id") =!= 99L)
      .select("user_id", "session_seq", "n_events", "value_sum")
      .collect().map(_.toSeq).toSet
    query.stop()
    assert(streamed == batch,
      s"stream/batch divergence:\n stream=$streamed\n batch=$batch")
  }

  test("streaming near-dedup equals the incremental batch twin on a closed input") {
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") < 250)
    val newRows = docs.filter(col("doc_id") >= 250)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), 1700000000000L + r.getLong(0) * 1000L))
    val batch = Dedup.incrementalNearDups(
        docs.filter(col("doc_id") >= 250), corpus, "text", "doc_id", 0.8)
      .select("corpus_key", "new_key", "jaccard")
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "fixture must have cross-split near-dup pairs")

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "tsl")
      .withColumn("ts", (col("tsl") / 1000).cast("timestamp")).drop("tsl")
    val corpusBands = Dedup.minhashBands(corpus, "text", "doc_id",
      Dedup.MinHashParams())
    val out = Streams.nearDedupStream(stream, corpusBands, corpus,
      "text", "doc_id")
    val query = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    // two micro-batches: the nightly-crawl increments arrive separately
    mem.addData(newRows.take(100).toSeq)
    query.processAllAvailable()
    mem.addData(newRows.drop(100).toSeq)
    query.processAllAvailable()
    // exactly ONE stateful operator (the watermarked pair dedup) — the
    // band match and verify joins must stay stream-static/stateless
    val stateOps = query.lastProgress.stateOperators
    assert(stateOps.length == 1, s"expected only the pair-dedup state, got ${stateOps.length}")
    val streamed = spark.table("neardup_out")
      .select("corpus_key", "new_key", "jaccard").collect().map(_.toSeq).toSet
    query.stop()
    assert(streamed == batch,
      s"stream/batch divergence: missing=${batch -- streamed} extra=${streamed -- batch}")
  }

  test("dupGroupsStream maintains standing labels equal to a full CC recompute, across restart") {
    import graft.dedup.ConnectedComponents
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val pairs = mem.toDF().toDF("key_a", "key_b")
    val root = tempDir("graft_dgs")
    val labelDir = s"$root/labels"
    val ckpt = s"$root/ckpt"
    def labelMap = Streams.readLabels(spark, labelDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val b2 = Seq((3L, 10L), (20L, 21L)) // merges {1,2,3}+{10,11}; new comp
    val b3 = Seq((21L, 1L))             // merges everything but nothing else

    val q1 = Streams.dupGroupsStream(pairs, "key_a", "key_b", labelDir, ckpt)
    try {
      mem.addData(b1); q1.processAllAvailable()
      assert(labelMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      mem.addData(b2); q1.processAllAvailable()
      val full2 = ConnectedComponents.labels((b1 ++ b2).toDF("key_a", "key_b"),
        "key_a", "key_b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labelMap == full2, "two folded batches == full recompute")
    } finally q1.stop()

    // restart on the same checkpoint + label dir: the standing table and
    // source offsets both carry over
    val q2 = Streams.dupGroupsStream(pairs, "key_a", "key_b", labelDir, ckpt)
    try {
      mem.addData(b3); q2.processAllAvailable()
      val full3 = ConnectedComponents.labels((b1 ++ b2 ++ b3).toDF("key_a", "key_b"),
        "key_a", "key_b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labelMap == full3, "post-restart fold == full recompute")
      assert(labelMap.values.toSet == Set(1L),
        s"b3 chains every component into comp 1: $labelMap")
    } finally q2.stop()
  }

  test("near-dedup stream restart with refreshed bands sees corpus additions; offsets carry over") {
    import graft.dedup.Dedup
    // the pinned-corpus contract: growth is invisible until the query is
    // restarted with re-built bands against the SAME checkpoint
    val doc1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val doc100 = "solar lunar stellar orbital cometary nebular quasar pulsar axial tidal"
    def corpusDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val v1 = corpusDf(Seq((1L, doc1)))
    val v2 = corpusDf(Seq((1L, doc1), (100L, doc100)))

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "tsl")
      .withColumn("ts", (col("tsl") / 1000).cast("timestamp")).drop("tsl")
    val ckpt = tempDir("graft_nd_ckpt")
    def ts(i: Long) = 1700000000000L + i * 1000L

    // foreachBatch sink: unlike the memory sink it supports restarting
    // from an existing checkpoint, which is the whole point here
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def start(corpus: org.apache.spark.sql.DataFrame) =
      Streams.nearDedupStream(stream,
          Dedup.minhashBands(corpus, "text", "doc_id", Dedup.MinHashParams()),
          corpus, "text", "doc_id")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("corpus_key", "new_key").collect()
            .foreach(r => emitted.add((r.getLong(0), r.getLong(1))))
          ()
        }
        .outputMode("append").start()

    // phase 1: query pinned to corpus v1
    val q1 = start(v1)
    try {
      mem.addData((300L, doc1, ts(0)))    // dup of v1 corpus -> must emit
      mem.addData((301L, doc100, ts(1)))  // dup of a NOT-YET-ADDED doc -> silent
      q1.processAllAvailable()
      assert(emitted.toArray.toSeq == Seq((1L, 300L)),
        s"pinned corpus must match only v1 docs, got ${emitted.toArray.toSeq}")
    } finally q1.stop()

    // phase 2: corpus grew; rebuild bands, restart on the SAME checkpoint
    val q2 = start(v2)
    try {
      mem.addData((302L, doc100, ts(2)))  // same text as 301, post-restart
      q2.processAllAvailable()
      // 302 matches the refreshed corpus; 300/301's batches committed
      // before the restart, so they are neither replayed nor retro-matched
      // (the queue would show duplicates or a (100, 301) pair if they were)
      assert(emitted.toArray.toSeq == Seq((1L, 300L), (100L, 302L)),
        s"restart must see the added corpus doc and not replay old batches, got ${emitted.toArray.toSeq}")
    } finally q2.stop()
  }

  test("stratified sampling on a stream equals the batch sample (stateless mixing at ingest)") {
    import graft.operators.Sampling
    val rows = (0L until 500L).map(k => (k, if (k % 2 == 0) "en" else "fr"))
    val rates = Map("en" -> 30, "fr" -> 80)
    val batch = Sampling.stratified(rows.toDF("doc_id", "lang"), "doc_id", "lang", rates, 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val sampled = Sampling.stratified(
      mem.toDF().toDF("doc_id", "lang"), "doc_id", "lang", rates, 0)
    val query = sampled.writeStream.format("memory")
      .queryName("sampled_stream_out").outputMode("append").start()
    mem.addData(rows)
    query.processAllAvailable()
    val streamed = spark.table("sampled_stream_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    query.stop()
    assert(streamed == batch,
      "hash-threshold sampling must pick the identical subset on stream and batch")
  }

  test("native session_window streaming agg agrees with its batch form on a closed input") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val rows = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(100), 3.0),
      (2L, ts(5), 4.0), (2L, ts(50), 5.0))
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("value_sum"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("value_sum"))
    val batch = sessions(rows.toDF("user_id", "ts", "value"))
      .collect().map(_.toSeq).toSet

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    val evs = mem.toDF().toDF("user_id", "tsl", "value")
      .withColumn("ts", timestamp_millis(col("tsl")))
      .withWatermark("ts", "1 minute")
    val query = sessions(evs).writeStream.format("memory")
      .queryName("native_sessions_out").outputMode("append").start()
    mem.addData(rows.map(r => (r._1, r._2.getTime, r._3)))
    query.processAllAvailable()
    // two more batches push the watermark past every session's close
    mem.addData((99L, ts(10000).getTime, 0.0)); query.processAllAvailable()
    mem.addData((99L, ts(20000).getTime, 0.0)); query.processAllAvailable()
    val streamed = spark.table("native_sessions_out")
      .filter(col("user_id") =!= 99L)
      .collect().map(_.toSeq).toSet
    query.stop()
    assert(streamed == batch,
      s"native session_window stream/batch divergence:\n stream=$streamed\n batch=$batch")
  }

  test("session numbering survives a timeout-closed session (no duplicate seq)") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    val evs = mem.toDS().map(t => Streams.Ev(t._1, new java.sql.Timestamp(t._2), t._3))
    val out = Streams.sessionizeStream(evs, 30)
    val q = out.writeStream.format("memory").queryName("sessions_seq_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0).getTime, 1.0))
      q.processAllAvailable()
      // advance watermark far enough to time the session out
      mem.addData((99L, ts(10000).getTime, 0.0)); q.processAllAvailable()
      mem.addData((99L, ts(20000).getTime, 0.0)); q.processAllAvailable()
      // user 1 comes back: must get session_seq 2, not a duplicate 1
      mem.addData((1L, ts(30000).getTime, 2.0)); q.processAllAvailable()
      mem.addData((99L, ts(70000).getTime, 0.0)); q.processAllAvailable()
      mem.addData((99L, ts(90000).getTime, 0.0)); q.processAllAvailable()
      val seqs = spark.table("sessions_seq_out")
        .filter(col("user_id") === 1L)
        .select("session_seq").collect().map(_.getLong(0)).sorted
      assert(seqs.toSeq == Seq(1L, 2L), s"got $seqs")
    } finally q.stop()
  }

  test("streaming dedup drops in-watermark duplicate fingerprints") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDS()
      .map(t => (new java.sql.Timestamp(t._1), t._2))
      .toDF("ts", "text")
    val q = Streams.dedupStream(df, "text").writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      mem.addData(
        (ts(0).getTime, "hello world"),
        (ts(1).getTime, "Hello  WORLD"), // dup after normalization
        (ts(2).getTime, "something else"))
      q.processAllAvailable()
      mem.addData((ts(3).getTime, "hello world")) // dup across batches
      q.processAllAvailable()
      val texts = spark.table("dedup_out").select("text")
        .collect().map(_.getString(0)).toSet
      assert(texts.size == 2 && texts.contains("hello world"))
    } finally q.stop()
  }

  test("stream-stream attribution join matches the batch interval join on a closed input") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    // (event_id, ts, user_id, event_type): user 1 has a view with two
    // clicks inside the 10-min window and one outside; user 2's click
    // precedes their view (no attribution); user 3 is click-only
    val rows = Seq(
      (100L, ts(0), 1L, "view"), (101L, ts(3), 1L, "click"),
      (102L, ts(9), 1L, "click"), (103L, ts(12), 1L, "click"),
      (200L, ts(5), 2L, "click"), (201L, ts(6), 2L, "view"),
      (300L, ts(7), 3L, "click"))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type")
    val batch = Streams.attributionPairsBatch(ev, 10)
      .collect().map(_.toSeq).toSet
    assert(batch == Set(Seq(1L, 100L, 101L), Seq(1L, 100L, 102L)),
      s"batch twin wrong: $batch")

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vMem = MemoryStream[(Long, Long, Long)] // (event_id, ts, user_id)
    val cMem = MemoryStream[(Long, Long, Long)]
    def shape(ds: org.apache.spark.sql.Dataset[(Long, Long, Long)], typ: String) =
      ds.map(t => (t._1, new java.sql.Timestamp(t._2), t._3, typ))
        .toDF("event_id", "ts", "user_id", "event_type")
    val out = Streams.attributionPairsStream(
      shape(vMem.toDS(), "view"), shape(cMem.toDS(), "click"), 10)
    val q = out.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      // deliver across several micro-batches, views and clicks interleaved
      vMem.addData(rows.filter(_._4 == "view").map(r => (r._1, r._2.getTime, r._3)))
      q.processAllAvailable()
      cMem.addData(rows.filter(_._4 == "click").map(r => (r._1, r._2.getTime, r._3)))
      q.processAllAvailable()
      val streamed = spark.table("attr_out").collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"stream/batch divergence:\n stream=$streamed\n batch=$batch")
    } finally q.stop()
  }

  test("hourly windowed stream over events parquet matches batch twin") {
    import org.apache.spark.sql.types._
    // stream the µs-converted events through a temp dir (stream source needs
    // a static schema; reuse the batch loader then re-write)
    val dir = tempDir("graft_stream")
    val ev = Tables.events(spark, sf0001).select("ts", "event_type", "value")
    ev.write.mode("overwrite").parquet(dir)
    val batch = Streams.hourlyTypeCounts(spark.read.parquet(dir))
      .collect().map(_.toSeq).toSet
    val stream = Streams.hourlyTypeCountsStream(
      spark, spark.read.parquet(dir).schema, dir)
    val q = stream.writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("hourly_out")
      .select(col("hour"), col("event_type"), col("n"), col("value_sum"))
      .collect().map(_.toSeq).toSet
    q.stop()
    assert(got == batch)
  }
}

class MultimodalSpec extends SparkSpec {
  import graft.multimodal.Multimodal

  test("synthetic media table conforms to the media schema shape") {
    val media = Multimodal.syntheticMediaFromDocs(Tables.documents(spark, sf0001))
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "modality", "content", "meta"))
    val mods = media.select("modality").distinct().collect().map(_.getString(0)).toSet
    assert(mods == Set("image", "audio", "video"))
  }

  test("feature extraction is deterministic, unit-norm, partition-parallel") {
    val media = Multimodal.syntheticMediaFromDocs(
      Tables.documents(spark, sf0001)).repartition(7)
    val f1 = Multimodal.extractFeatures(media, "media_id", "content", dim = 16)
      .orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media, "media_id", "content", dim = 16)
      .orderBy("media_id").collect()
    assert(f1.map(_.getSeq[Float](1)).toSeq == f2.map(_.getSeq[Float](1)).toSeq)
    val norm = math.sqrt(f1.head.getSeq[Float](1).map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4)
  }

  test("frame sampling explodes n rows per media item") {
    val media = Multimodal.syntheticMediaFromDocs(Tables.documents(spark, sf0001)).limit(10)
    val frames = Multimodal.sampleFrames(media, "media_id", "content", nFrames = 4)
    assert(frames.count() == 40)
    assert(frames.schema.fieldNames.toSeq == Seq("media_id", "frame_idx", "frame"))
  }

  test("resize plumbing produces the derived column") {
    val media = Multimodal.syntheticMediaFromDocs(Tables.documents(spark, sf0001)).limit(5)
    val resized = Multimodal.resizeImages(media, "content", 32, 32)
    assert(resized.filter(col("content_resized").isNotNull).count() == 5)
  }

  /** A real 8x8 PNG: left half black, right half white. */
  private def tinyPng(): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("ImageIO path: PNG bytes decode to real pixel features") {
    val png = tinyPng()
    // direct codec check: half the pixels are black (bin 0), half white
    // (top bin) — the luminance histogram must be exactly those two spikes
    val f = Multimodal.Codec.imageFeatures(png, dim = 16)
    assert(f(0) > 0.7f && f(15) > 0.7f, s"expected two-spike histogram, got ${f.toSeq}")
    assert((1 to 14).forall(i => f(i) == 0f))
    // and the same features must come out of the distributed operator
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, png),
      org.apache.spark.sql.Row(2L, "not an image".getBytes("UTF-8")))
    val df = spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType, nullable = false))))
    val feats = Multimodal.extractFeatures(df, "media_id", "content", dim = 16)
      .orderBy("media_id").collect()
    assert(feats(0).getSeq[Float](1) == f.toSeq)      // decoded path
    assert(feats(1).getSeq[Float](1).nonEmpty)        // fallback stays total
  }

  test("ImageIO path: resize really rescales to the target geometry") {
    val resized = Multimodal.Codec.resize(tinyPng(), 3, 5)
    val img = Multimodal.Codec.decodeImage(resized)
    assert(img.isDefined, "resized payload must itself be a decodable PNG")
    assert(img.get.getWidth == 3 && img.get.getHeight == 5)
  }
}

class EmbedStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming embed keeps the index in sync with appends, exactly once") {
    val root = tempDir("graft_es")
    val cat = new graft.core.Catalog(spark, root)
    val c = cat.create(graft.core.CollectionConfig(name = "s"))
    c.importDf(Seq("first doc text", "second doc text").toDF("text"))
    val emb = new graft.embed.HashingEmbedder(dim = 32)
    val q = c.embedColumnStream("text", emb, s"$root/_ckpt")
    try {
      q.processAllAvailable()
      assert(c.indexedCount("text") == 2)
      c.appendDf(Seq("third doc text").toDF("text"))
      q.processAllAvailable()
      assert(c.indexedCount("text") == 3)
      // no reprocessing: keys unique
      val keys = c.embeddings("text").select("_key").as[Long].collect().sorted
      assert(keys.toSeq == Seq(1L, 2L, 3L))
      // searchable immediately
      val hits = c.search("text", "third doc", 1, emb).collect()
      assert(hits.head.getLong(1) == 3L)
      // steady-state never took the index-scanning recovery path: batch 1
      // hit the empty-index fast path, batch 2 ran post-recovery
      assert(c.streamRecoveryAntiJoins == 0L,
        "steady-state micro-batches must not anti-join against the index")
    } finally q.stop()
  }

  test("overlapping batches anti-join (checkpoint loss, compaction), new keys stream free") {
    val root = tempDir("graft_es2")
    val cat = new graft.core.Catalog(spark, root)
    val c = cat.create(graft.core.CollectionConfig(name = "s2"))
    c.importDf(Seq("one text", "two text").toDF("text"))
    val emb = new graft.embed.HashingEmbedder(dim = 32)
    val q1 = c.embedColumnStream("text", emb, s"$root/_ckpt")
    try q1.processAllAvailable() finally q1.stop()
    assert(c.indexedCount("text") == 2)

    // clean restart, only-new keys: no overlap -> the fast path, no
    // index scan even on the first batch
    c.appendDf(Seq("three text").toDF("text"))
    val q2 = c.embedColumnStream("text", emb, s"$root/_ckpt")
    try {
      q2.processAllAvailable()
      assert(c.streamRecoveryAntiJoins == 0L,
        "non-overlapping restart batch must not scan the index")
      assert(c.indexedCount("text") == 3)
    } finally q2.stop()

    // checkpoint loss: every file redelivered, keys 1..3 all overlap ->
    // anti-join fires, index stays exactly-once
    val q3 = c.embedColumnStream("text", emb, s"$root/_ckpt_fresh")
    try {
      q3.processAllAvailable()
      assert(c.streamRecoveryAntiJoins == 1L, "overlapping batch must dedup")
      val keys = c.embeddings("text").select("_key").as[Long].collect().sorted
      assert(keys.toSeq == Seq(1L, 2L, 3L), "exactly-once after full redelivery")

      // compaction rewrites the data files mid-stream: the file source
      // re-delivers every row with OLD keys; the overlap check must
      // catch it (this was the round-3 review's duplicate-embedding bug)
      c.compact()
      c.appendDf(Seq("four text").toDF("text"))
      q3.processAllAvailable()
      val keys2 = c.embeddings("text").select("_key").as[Long].collect().sorted
      assert(keys2.toSeq == Seq(1L, 2L, 3L, 4L),
        s"exactly-once across compaction, got ${keys2.toSeq}")
    } finally q3.stop()
  }

  test("chunked embed stream builds the same multi-vector index as the batch path") {
    val root = tempDir("graft_es_ch")
    val cat = new graft.core.Catalog(spark, root)
    val emb = new graft.embed.HashingEmbedder(dim = 32)
    val longDoc = "# part one\n" +
      Array.fill(30)("alpha beta gamma delta").mkString(" ") +
      "\n\n# part two\n" +
      Array.fill(30)("quantum photon entangle spin").mkString(" ")
    val docs = Seq(longDoc, "short filler one", "short filler two")

    val cb = cat.create(graft.core.CollectionConfig(name = "chb"))
    cb.importDf(docs.toDF("text"))
    val nBatch = cb.embedColumnChunked("text", emb, maxTokens = 32, overlapTokens = 4)

    val cs = cat.create(graft.core.CollectionConfig(name = "chs"))
    // records the geometry the stream embeds at; no row to embed yet
    assert(cs.embedColumnChunked("text", emb, maxTokens = 32, overlapTokens = 4) == 0)
    cs.importDf(docs.toDF("text"))
    val q = cs.embedColumnStream("text", emb, s"$root/_ckpt")
    try q.processAllAvailable() finally q.stop()

    assert(cs.indexedCount("text") == nBatch,
      s"stream wrote ${cs.indexedCount("text")} vectors, batch wrote $nBatch")
    assert(nBatch > docs.size, "long doc must contribute several vectors")
    val query = "quantum photon entangle spin"
    def hits(c: graft.core.Collection) = c.search("text", query, 3, emb)
      .collect().map(r => (r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSeq
    assert(hits(cs) == hits(cb), "stream-built and batch-built chunked indexes must search identically")
  }

  test("compact() while the stream is BEHIND: listed-then-deleted files don't kill the query") {
    // The dangerous window: the source has committed a batch's file list
    // to the offset log, compact() then deletes those very files, and the
    // batch (re)executes against the logged list. Without
    // ignoreMissingFiles on the stream reader that replay dies with
    // FileNotFoundException; with it the vanished files are skipped and
    // the rows arrive via the compacted files instead, exactly once.
    val root = tempDir("graft_es3")
    val cat = new graft.core.Catalog(spark, root)
    val c = cat.create(graft.core.CollectionConfig(name = "s3"))
    c.importDf(Seq("alpha text", "beta text").toDF("text").repartition(1))
    c.appendDf(Seq("gamma text").toDF("text"))
    val gated = new GateEmbedder(32)
    val q1 = c.embedColumnStream("text", gated, s"$root/_ckpt")
    try {
      // wait until batch 0's embed scan is running -> its offset (file
      // list) is committed but the batch is not; then kill the query
      // mid-batch, leaving a replay pending against the logged files
      assert(EmbedGate.started.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "stream never reached the embed stage")
    } finally q1.stop()
    EmbedGate.block = false
    assert(c.indexedCount("text") == 0, "killed batch must not have committed")

    // compaction rewrites the data dir: every file the offset log names
    // is deleted and replaced by one compacted file
    c.compact()

    // restart: batch 0 replays against now-missing files (skipped), the
    // compacted file is then listed as new and carries all the rows
    val emb = new graft.embed.HashingEmbedder(dim = 32)
    val q2 = c.embedColumnStream("text", emb, s"$root/_ckpt")
    try {
      q2.processAllAvailable()
      val keys = c.embeddings("text").select("_key").as[Long].collect().sorted
      assert(keys.toSeq == Seq(1L, 2L, 3L),
        s"exactly-once across behind-stream compaction, got ${keys.toSeq}")
    } finally q2.stop()
  }

  test("compactIndex bounds micro-batch file accumulation; search + repair unchanged") {
    // a continuously-fed index accumulates one parquet file per
    // micro-batch forever; compactIndex is the operational fix — and it
    // must be safe to run while the embed stream is LIVE (both hold the
    // collection writeLock, so an append can't land inside the swap
    // window and be lost)
    val root = tempDir("graft_ci")
    val cat = new graft.core.Catalog(spark, root)
    val c = cat.create(graft.core.CollectionConfig(name = "ci"))
    val emb = new graft.embed.HashingEmbedder(dim = 32)
    c.importDf(Seq("seed doc 1").toDF("text"))
    assert(c.embedColumn("text", emb) == 1)
    // 49 more one-row batches -> ~50 small index files (the micro-batch
    // append shape, without paying 50 streaming triggers)
    (2 to 50).foreach { i =>
      c.appendDf(Seq(s"doc number $i body").toDF("text"))
      assert(c.embedColumn("text", emb) == 1)
    }
    def idxFiles = new java.io.File(c.indexDir("text")).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(idxFiles >= 50, s"expected >=50 accumulated index files, got $idxFiles")
    val hitsBefore = c.search("text", "doc number 17 body", 3, emb)
      .collect().map(r => (r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSeq

    // compact while a live stream holds the same index
    val q = c.embedColumnStream("text", emb, s"$root/_ckpt")
    try {
      q.processAllAvailable() // catches up; overlap anti-join keeps exactly-once
      assert(c.indexedCount("text") == 50)
      val written = c.compactIndex("text")
      assert(written == 1, "tiny index -> one target file")
      assert(idxFiles <= 2, s"compaction must bound the file count, got $idxFiles")
      assert(c.indexedCount("text") == 50)
      val hitsAfter = c.search("text", "doc number 17 body", 3, emb)
        .collect().map(r => (r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSeq
      assert(hitsAfter == hitsBefore, "compaction must not change search results")
      // stream keeps appending to the compacted index
      c.appendDf(Seq("post compaction doc").toDF("text"))
      q.processAllAvailable()
      assert(c.indexedCount("text") == 51)
    } finally q.stop()

    // fingerprints ride through compaction: repair is still exact
    c.upsert(Seq(("doc ten rewritten", 10L)).toDF("text", "_key"))
    assert(c.reembedChanged("text", emb) == 1)
    assert(c.reembedChanged("text", emb) == 0)
    assert(c.indexedCount("text") == 51)
  }
}

class ProfileSpec extends SparkSpec {
  test("sketch profile plans with NO Expand; the exact form pays one") {
    import graft.queries.RelationalQueries
    val ord = Tables.orders(spark, sf0001)
    val approxPlan = RelationalQueries
      .approxProfile(ord, RelationalQueries.ProfileCols)
      .queryExecution.executedPlan.toString
    assert(!approxPlan.contains("Expand"),
      s"sketch profile must not replicate rows:\n$approxPlan")
    // the exact twin's documented cost: multi-distinct => one Expand
    val exactPlan = SparkEntry.queries("q91_table_profile")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"),
      "q91's exact multi-distinct should show the Expand this spec contrasts")
    // and the graded contract holds at fixture scale: every sketch within rsd
    val rows = SparkEntry.queries("q105_table_profile_approx")(spark, sf0001)
      .collect()
    assert(rows.length == 4 &&
      rows.forall(_.getAs[Boolean]("dist_within_rsd")), rows.mkString(", "))
  }
}

class CountMinSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.CountMin

  test("count-min: never undercounts, collision-free tokens exact, sketches merge by addition") {
    // skewed stream: "hot" 500x, "warm" 50x, 200 singletons
    val toks = (Seq.fill(500)("hot") ++ Seq.fill(50)("warm") ++
      (1 to 200).map(i => s"rare$i")).toDF("tok")
    val d = 4
    val w = 64
    val cells = CountMin.sketch(toks, "tok", d, w)
    assert(cells.count() <= d.toLong * w, "cell table is bounded by depth x width")
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val probes = exact.keys.toSeq.toDF("tok")
    val est = CountMin.estimate(cells, probes, "tok", d, w).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (t, n) =>
      assert(est(t) >= n, s"CM must never undercount: $t est ${est(t)} < $n")
    }
    // with 251 distinct tokens in 4x64 cells, the hot token's min-row is
    // overwhelmingly collision-light: its estimate stays near 500, far
    // from the 750 a single-row sketch could reach under pile-up
    assert(est("hot") < 600, s"hot estimate degraded: ${est("hot")}")
    // mergeability: sketch(A ++ B) == cell-wise sum of the halves
    val (a, b) = (toks.limit(300), toks.exceptAll(toks.limit(300)))
    val merged = CountMin.sketch(a, "tok", d, w)
      .withColumnRenamed("cnt", "ca")
      .join(CountMin.sketch(b, "tok", d, w).withColumnRenamed("cnt", "cb"),
        Seq("i", "bucket"), "full_outer")
      .select(col("i"), col("bucket"),
        (coalesce(col("ca"), lit(0L)) + coalesce(col("cb"), lit(0L))).as("cnt"))
    val whole = CountMin.sketch(toks, "tok", d, w)
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "two half-sketches must sum to the whole-corpus sketch")
    // the estimate of an absent token is 0 only if all its cells are
    // empty; with this density it is small but never negative
    val ghost = CountMin.estimate(cells, Seq("never-seen").toDF("tok"), "tok", d, w)
      .head().getLong(1)
    assert(ghost >= 0L)
  }
}

/** Latch shared between the test thread and executor tasks (local[*] =
  * one JVM, so a plain object works). */
object EmbedGate {
  val started = new java.util.concurrent.CountDownLatch(1)
  @volatile var block = true
}

/** HashingEmbedder that parks on first use so a test can stop the stream
  * mid-batch (the park is interruptible: stop() interrupts the task). */
class GateEmbedder(dim0: Int) extends graft.embed.Embedder {
  private val inner = new graft.embed.HashingEmbedder(dim = dim0)
  def dim: Int = dim0
  def embed(texts: Iterator[String]): Iterator[Array[Float]] = {
    EmbedGate.started.countDown()
    while (EmbedGate.block) Thread.sleep(10)
    inner.embed(texts)
  }
}
