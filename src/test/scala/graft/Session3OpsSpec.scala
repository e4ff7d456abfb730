package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.{Bpe, Winnowing}
import graft.operators.EmbeddingStats
import graft.streaming.Streams

/** Round-9 session-3 operators: n-gram span masking, tokenizer
  * coverage, embedding norm screen, session sequences, containment.
  */
class Session3OpsSpec extends SparkSpec {
  import spark.implicits._

  test("ngramSpanMask: hot spans die, boundaries survive, overlaps merge, short docs pass") {
    // 'x y z' appears in docs 1,2,3 (> maxDocs=2): every covered
    // position dies. In doc 1 it overlaps 'y z w' (also hot via docs
    // 1,2? no — only docs 1 and 4 have 'y z w': df=2 <= 2, survives as
    // a GRAM but its positions y,z die from the hot gram; w survives).
    val docs = Seq(
      (1L, "a x y z w b"),   // x y z hot -> x,y,z die; a,w,b survive
      (2L, "x y z tail two"),
      (3L, "head x y z"),
      (4L, "y z w only"),    // 'y z w' df=2 (docs 1,4) -> not hot, all kept
      (5L, "pq"),            // 1 word < n: no grams, untouched
      (6L, "")               // zero words
    ).toDF("id", "text")
    val got = Dedup.ngramSpanMask(docs, "text", "id", n = 3, maxDocs = 2)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (1L, "a w b", 3L, 3L),
      (2L, "tail two", 2L, 3L),
      (3L, "head", 1L, 3L),
      (4L, "y z w only", 4L, 0L),
      (5L, "pq", 1L, 0L),
      (6L, "", 0L, 0L)), got)
  }

  test("ngramSpanMask: a doc that is ALL boilerplate comes back empty, not missing") {
    val docs = Seq(
      (1L, "c1 c2 c3"), (2L, "c1 c2 c3"), (3L, "c1 c2 c3")
    ).toDF("id", "text")
    val got = Dedup.ngramSpanMask(docs, "text", "id", n = 3, maxDocs = 2)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    assert(got == Seq((1L, "", 3L), (2L, "", 3L), (3L, "", 3L)), got)
  }

  test("Bpe.coverage: per-group token totals, OOV counts and rate against a vocab") {
    val docs = Seq(
      ("s1", "the cat the dog"),
      ("s1", "the zebra"),
      ("s2", "QUOKKA the")          // lowercased before matching
    ).toDF("source", "text")
    val vocab = Seq("the", "cat", "dog").toDF("word")
    val got = Bpe.coverage(docs, "text", "source", vocab)
      .orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    // s1: 6 tokens, 1 oov (zebra); s2: 2 tokens, 1 oov (quokka)
    assert(got == Seq(
      ("s1", 6L, 1L, 0.166667, 1L),
      ("s2", 2L, 1L, 0.5, 1L)), got)
  }

  test("normOutliers: low/high flags from the rounded moment bounds, every key kept") {
    // 8 unit-norm-ish vectors + one near-zero + one huge
    val base = (1 to 8).map(i => (i.toLong, Array(1.0f, 0.0f)))
    val rows = base :+ (9L, Array(0.001f, 0.0f)) :+ (10L, Array(9.0f, 0.0f))
    val df = rows.toDF("vec_id", "embedding")
    val got = EmbeddingStats.normOutliers(df, "vec_id", "embedding")
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got.size == 10)
    assert(got.count(_._2 == "high") == 1 && got.find(_._2 == "high").get._1 == 10L)
    // the near-zero vector is ~2.2 sd below the (huge-inflated) mean?
    // bounds are data-dependent; assert it is NOT flagged high and the
    // unit vectors are all 'ok' or 'low' consistently with the model
    val model = {
      val norms = rows.map { case (_, v) =>
        BigDecimal(math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val mu = BigDecimal(norms.sum / norms.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val sd = BigDecimal(math.sqrt(
          norms.map(x => (x - norms.sum / norms.size) *
            (x - norms.sum / norms.size)).sum / (norms.size - 1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      rows.map(_._1).zip(norms).map { case (k, n) =>
        (k, if (n < mu - 2 * sd) "low" else if (n > mu + 2 * sd) "high" else "ok")
      }
    }
    assert(got == model, s"got=$got model=$model")
  }

  test("sessionSequences: gap split, ts-tie ordered by event_id, per-session chains") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 7L, "view"),
      (2L, "2024-01-01 10:05:00", 7L, "click"),
      (3L, "2024-01-01 10:05:00", 7L, "buy"),    // ts tie with event 2
      (4L, "2024-01-01 11:00:00", 7L, "view"),   // 55 min gap -> new session
      (5L, "2024-01-01 10:00:00", 8L, "view")
    ).toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val got = Streams.sessionSequences(ev, gapMinutes = 30)
      .select(col("user_id"), col("session_seq"), col("n_events"), col("seq_text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq.sortBy(x => (x._1, x._2))
    assert(got == Seq(
      (7L, 1L, 3L, "view -> click -> buy"),
      (7L, 2L, 1L, "view"),
      (8L, 1L, 1L, "view")), got)
  }

  test("ngramNovelty: first-owner grams count as novel, later copies score zero") {
    val docs = Seq(
      (1L, "a b c d"),   // owns both grams -> 1.0
      (2L, "a b c d"),   // exact late copy -> 0.0
      (3L, "a b c x"),   // one shared, one new -> 0.5
      (4L, "zz")         // < n words: no row
    ).toDF("id", "text")
    val got = Dedup.ngramNovelty(docs, "text", "id", n = 3)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 1.0), (2L, 2L, 0L, 0.0), (3L, 2L, 1L, 0.5)), got)
  }

  test("vocabDrift: smoothed KL against the corpus matches the closed-form model") {
    val docs = Seq(("g1", "a a b"), ("g2", "a b b")).toDF("source", "text")
    val got = graft.functions.TextStats.vocabDrift(docs, "text", "source")
      .orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // corpus: a=3, b=3, C=6, V=2; each group: 3 tokens
    def kl(ca: Int, cb: Int): Double = {
      val terms = Seq((ca, 3), (cb, 3)).map { case (gn, cn) =>
        val ps = (gn + 1.0) / (3 + 2); val pc = (cn + 1.0) / (6 + 2)
        ps * math.log(ps / pc)
      }
      BigDecimal(terms.sum).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    assert(got == Seq(("g1", 3L, kl(2, 1)), ("g2", 3L, kl(1, 2))), got)
    // symmetric fixtures drift identically
    assert(got.head._3 == got(1)._3)
  }

  test("property: ngramSpanMask and ngramNovelty equal the sequential model on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val vocabWords = Vector("aa", "bb", "cc", "dd", "ee")
    val corpusGen: Gen[List[String]] = for {
      nDocs <- Gen.choose(2, 8)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(0, 9)
        ws <- Gen.listOfN(len, Gen.oneOf(vocabWords))
      } yield ws.mkString(" "))
    } yield docs
    // sequential reference: grams with positions, df over distinct
    // docs, mark covered positions, reassemble; novelty by min-owner
    def model(texts: List[String], n: Int, maxDocs: Int)
      : (Seq[(Long, String, Long, Long)], Seq[(Long, Long, Long)]) = {
      val words = texts.map(_.split(" ").filter(_.nonEmpty).toVector)
      val grams = words.zipWithIndex.flatMap { case (ws, id) =>
        if (ws.length < n) Nil
        else (0 to ws.length - n).map(i =>
          (id.toLong, i, ws.slice(i, i + n).mkString(" ")))
      }
      val df = grams.groupBy(_._3).map { case (g, occ) =>
        g -> occ.map(_._1).distinct.size }
      val hot = df.filter(_._2 > maxDocs).keySet
      val maskRows = words.zipWithIndex.map { case (ws, id) =>
        val dead = grams.filter(g => g._1 == id && hot(g._3))
          .flatMap(g => g._2 until g._2 + n).toSet
        val kept = ws.zipWithIndex.filterNot(w => dead(w._2)).map(_._1)
        (id.toLong, kept.mkString(" "), kept.size.toLong,
          (ws.size - kept.size).toLong)
      }
      val owner = grams.groupBy(_._3).map { case (g, occ) =>
        g -> occ.map(_._1).min }
      val novRows = words.zipWithIndex.flatMap { case (ws, id) =>
        val mine = grams.filter(_._1 == id).map(_._3).distinct
        if (mine.isEmpty) None
        else Some((id.toLong, mine.size.toLong,
          mine.count(g => owner(g) == id).toLong))
      }
      (maskRows, novRows)
    }
    val prop = Prop.forAll(corpusGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val (em, en) = model(texts, n = 2, maxDocs = 1)
      val gm = Dedup.ngramSpanMask(df, "text", "id", n = 2, maxDocs = 1)
        .orderBy(col("id")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
      val gn = Dedup.ngramNovelty(df, "text", "id", n = 2)
        .orderBy(col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      gm == em && gn == en
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(12)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
      .withWorkers(1), prop)
    assert(res.passed, s"span/novelty property failed: ${res.status}")
  }

  test("pageRank: matches the driver model, including dangling-mass redistribution") {
    // 0 -> 1, 0 -> 2, 1 -> 2; node 2 DANGLES; node 3 is isolated
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("node")
    val iters = 4; val d = 0.85
    val got = graft.operators.PageRank.pageRank(edges, nodes, iters, d)
      .orderBy(col("node")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // driver model
    val out = Map(0L -> Seq(1L, 2L), 1L -> Seq(2L))
    var ranks = Seq(0L, 1L, 2L, 3L).map(_ -> 0.25).toMap
    for (_ <- 1 to iters) {
      val dm = ranks.filter(kv => !out.contains(kv._1)).values.sum
      ranks = ranks.keys.map { v =>
        val c = out.toSeq.flatMap { case (u, ds) =>
          if (ds.contains(v)) Some(ranks(u) / ds.size) else None }.sum
        v -> ((1.0 - d) / 4 + d * (c + dm / 4))
      }.toMap
    }
    val model = ranks.toSeq.sortBy(_._1).map { case (k, v) =>
      (k, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    assert(got == model, s"got=$got model=$model")
    // mass conservation: ranks sum to ~1
    assert(math.abs(got.map(_._2).sum - 1.0) < 1e-4)
  }

  test("ngramNoveltyAgainst: store suppresses known grams, intra-batch copies score 0") {
    val corpus = Seq((1L, "a b c d")).toDF("id", "text")
    val store = Dedup.ngramFingerprints(corpus, "text", "id", n = 2)
      .select(col("fp"))
    val batch = Seq(
      (10L, "a b c"),    // both grams stored -> 0.0
      (11L, "x y z"),    // both new, first owner -> 1.0
      (12L, "x y z"),    // intra-batch copy -> 0.0
      (13L, "c d x y")   // 'c d' stored, 'd x' new-owned, 'x y' owned by 11
    ).toDF("id", "text")
    val got = Dedup.ngramNoveltyAgainst(batch, "text", "id", n = 2, store)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq(
      (10L, 2L, 0L, 0.0), (11L, 2L, 2L, 1.0), (12L, 2L, 0L, 0.0),
      (13L, 3L, 1L, 0.333333)), got)
  }

  test("timeDecay: deterministic, recency-monotone in half-life, clamps future rows") {
    val ev = (1L to 400L).map(i =>
      (i, java.sql.Timestamp.valueOf(f"2024-01-${(i % 28 + 1)}%02d 12:00:00")))
      .toDF("event_id", "ts")
    val asOf = 1706745600.0 // 2024-02-01 00:00:00 UTC
    def kept(hl: Double): Set[Long] =
      graft.operators.Sampling.timeDecay(ev, "event_id", "ts", hl, asOf)
        .collect().map(_.getLong(0)).toSet
    val k7 = kept(7.0)
    assert(k7 == kept(7.0), "must be reproducible")
    // longer half-life keeps a superset: p is monotone in halfLife
    assert(k7.subsetOf(kept(21.0)))
    // future rows clamp to probability 1 (always kept)
    val future = Seq((999L,
      java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))).toDF("event_id", "ts")
    assert(graft.operators.Sampling
      .timeDecay(future, "event_id", "ts", 7.0, asOf).count() == 1L)
  }

  test("noveltyScreenStream: stateless, agrees with the batch twin on repeat-free batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq((1L, "a b c d e")).toDF("id", "text")
    val store = graft.dedup.Dedup.ngramFingerprints(corpus, "text", "id", n = 2)
      .select("fp").collect().map(_.getString(0)).toSet
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.Streams.noveltyScreenStream(
      mem.toDF().toDF("id", "text"), store, "text", n = 2, minNovelty = 0.5)
    val q = out.writeStream.format("memory").queryName("novelty_out")
      .outputMode("append").start()
    mem.addData((10L, "a b c d e"),   // all stored -> 0.0, dropped
      (11L, "x y z w"),               // all new -> 1.0, kept
      (12L, "c d x"),                 // 1 of 2 new -> 0.5, kept
      (13L, "q"))                     // sub-n -> passes at 1.0
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty,
      "the novelty screen must be completely stateless")
    q.stop()
    val got = spark.table("novelty_out").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq.sortBy(_._1)
    assert(got == Seq((11L, 1.0), (12L, 0.5), (13L, 1.0)), got)
    // batch-twin agreement on the gram-bearing, repeat-free rows
    val batch = Seq((10L, "a b c d e"), (11L, "x y z w"), (12L, "c d x"))
      .toDF("id", "text")
    val storeDf = graft.dedup.Dedup.ngramFingerprints(corpus, "text", "id", 2)
      .select("fp")
    val twin = graft.dedup.Dedup
      .ngramNoveltyAgainst(batch, "text", "id", n = 2, storeDf)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq.sortBy(_._1)
    assert(twin == Seq((10L, 0.0), (11L, 1.0), (12L, 0.5)), twin)
  }

  test("survivorsByCentrality: the hub of each dup component wins, ties to min key") {
    // component A: star centered at 3 (pairs 3-7, 3-8, 3-9);
    // component B: a single pair (20, 21) — symmetric, min key wins
    val pairs = Seq((3L, 7L), (3L, 8L), (3L, 9L), (20L, 21L))
      .toDF("key_a", "key_b")
    val got = graft.dedup.ConnectedComponents.survivorsByCentrality(pairs)
      .orderBy(col("comp_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((3L, 3L, 4L), (20L, 20L, 2L)), got)
  }

  test("scriptProfile: mixed-script fractions, digit runs, empty-text guard") {
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "ab 数据 12"),   // 2 latin, 2 han, 2 digit of 6 non-ws
      (2L, "   "),           // whitespace-only -> all 0.0
      (3L, "привет")         // all cyrillic
    ).toDF("id", "t")
    val got = docs.select(col("id") +: TextFunctions.scriptProfile(col("t")): _*)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      (1L, 6L, 0.333333, 0.333333, 0.0, 0.333333),
      (2L, 0L, 0.0, 0.0, 0.0, 0.0),
      (3L, 6L, 0.0, 0.0, 1.0, 0.0)), got)
  }

  test("novelty store: build, watermark refresh, check; retention survives delete") {
    import graft.core.{Catalog, CollectionConfig}
    val cat = new Catalog(spark,
      tempDir("graft_nv"))
    val c = cat.create(CollectionConfig(name = "nv"))
    c.importDf(Seq("alpha beta gamma delta", "epsilon zeta eta theta")
      .toDF("text"))
    c.buildNoveltyStore("text", n = 2)
    // a verbatim copy scores 0, new content 1
    val batch1 = Seq((100L, "alpha beta gamma delta"), (101L, "new words only here"))
      .toDF("id", "text")
    val r1 = c.noveltyCheck("text", batch1, "text", "id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(r1 == Map(100L -> 0.0, 101L -> 1.0), r1)
    // append a doc, refresh folds ONLY it (watermark), then its copy scores 0
    c.appendDf(Seq("iota kappa lambda mu").toDF("text"))
    assert(c.refreshNoveltyStore("text") == 1L)
    assert(c.refreshNoveltyStore("text") == 0L) // idempotent at the watermark
    val r2 = c.noveltyCheck("text",
        Seq((200L, "iota kappa lambda mu")).toDF("id", "text"), "text", "id")
      .head().getDouble(3)
    assert(r2 == 0.0, s"refreshed grams must suppress novelty: $r2")
    // retention: deleting the doc does NOT forget its grams
    val victim = c.df.orderBy(col("_key").desc).select(col("_key"))
      .head().getLong(0)
    assert(c.deleteKeys(Seq(victim)) == 1L)
    val r3 = c.noveltyCheck("text",
        Seq((201L, "iota kappa lambda mu")).toDF("id", "text"), "text", "id")
      .head().getDouble(3)
    assert(r3 == 0.0, "the store is append-only by contract")
  }

  test("containmentPairs: a quoted excerpt scores containment ~1 where Jaccard is small") {
    val long = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6).trim
    val short = "gamma delta epsilon zeta eta"          // verbatim inside long
    val other = "completely different words here nothing shared at all zz"
    val docs = Seq((1L, long), (2L, short), (3L, other)).toDF("id", "text")
    val fps = Winnowing.fingerprints(docs, "id", "text", k = 8, w = 4)
    val got = Winnowing.containmentPairs(fps, "id", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    val pair = got.find(p => p._1 == 1L && p._2 == 2L)
    assert(pair.isDefined, s"expected (1,2) pair in $got")
    val (_, _, shared, nA, nB, cont) = pair.get
    assert(nB < nA, s"short doc should have fewer fps: $pair")
    assert(cont == BigDecimal(shared.toDouble / math.min(nA, nB))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // boundary windows of the isolated short doc can select different
    // grams than the same text embedded in the long doc, so containment
    // is high but not exactly 1.0
    assert(cont >= 0.5, s"excerpt should be substantially contained: $pair")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not pair: $got")
  }
}
