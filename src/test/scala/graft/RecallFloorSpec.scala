package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** Recall REGRESSION gates (round-10 verdict item 3): the hash-match
  * oracles pin exact agreement with whatever centroids/codebooks were
  * trained, so a quantization or training bug that quietly WORSENS
  * retrieval quality would never turn a test red — tierSweep reports
  * recall but fails nothing. These cases pin measured floors on the
  * standard deterministic fixture; everything here is bit-reproducible
  * (deterministic embedder, hash-ordered training sample, fixed Lloyd),
  * so the floors sit just under today's measured values and any change
  * that lowers them is a real quality regression surfacing as a red
  * test, not a quietly worse product.
  */
class RecallFloorSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)

  private def tmpRoot(): String =
    tempDir("graft_recall")

  private def mkCollection(name: String, n: Int): graft.core.Collection = {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = name))
    val words = Seq("alpha", "beta", "gamma", "delta", "orbit", "quark",
      "lumen", "fjord", "crane", "maple", "zephyr", "basalt")
    c.importDf((1 to n).map(i =>
      s"${words(i % 12)} ${words((i * 5) % 12)} ${words((i * 7) % 12)} " +
        s"document number $i").toDF("text"))
    assert(c.embedColumn("text", emb) == n)
    c
  }

  test("IVF recall floor: starved probing holds its measured recall") {
    // 400 docs over 16 lists probed at 2 — starved enough that recall
    // sits strictly below 1.0, so the pinned floor actually
    // discriminates (half-lists probing on this fixture measures a
    // flat 1.0, which no regression can dent)
    val c = mkCollection("floor1", n = 400)
    c.buildAnnIndex("text", nLists = 16, sampleN = 500)
    val avg = c.annRecallReport("text", k = 10, nProbe = 2, nQueries = 16)
      .agg(org.apache.spark.sql.functions.avg(col("recall"))).head().getDouble(0)
    // measured on this fixture at pin time; a training/assignment/probe
    // regression that costs recall drops below and fails loudly
    assert(avg >= RecallFloorSpec.IvfStarvedProbeFloor,
      s"IVF nProbe=2/16 recall $avg fell below pinned floor " +
        s"${RecallFloorSpec.IvfStarvedProbeFloor}")
    assert(avg < 1.0, "fixture must discriminate: starved recall at 1.0 " +
      "means the floor can never catch a regression — re-harden it")
  }

  test("tier floors: binary+rerank and PQ'd probing hold theirs; rerank >= plain PQ") {
    val c = mkCollection("floor2", n = 400)
    c.buildAnnIndex("text", nLists = 16, sampleN = 500)
    c.buildBinarySketch("text")
    val tiers = c.tierSweep("text", k = 10, nProbe = 2, nQueries = 16)
      .map(t => t.tier -> t.recall).toMap
    assert(tiers("exact") == 1.0, tiers)
    assert(tiers("ivf(nProbe=2)") >= RecallFloorSpec.IvfStarvedProbeFloor, tiers)
    assert(tiers("binary+rerank") >= RecallFloorSpec.BinaryRerankFloor, tiers)
    // PQ layout: candidates re-ranked by exact cosine can only repair
    // quantization error, never add it — rerank recall >= plain PQ,
    // and the PQ'd probed tier holds its own pinned floor
    val e = c.embeddings("text")
    val cb = graft.search.Ann.pqTrain(e, graft.core.Keys.KeyCol,
      "embedding", m = 8, k = 16, sampleN = 500)
    val enc = graft.search.Ann.pqEncode(e, "embedding", cb)
    val queries = e.orderBy(md5(col(graft.core.Keys.KeyCol).cast("string")),
        col(graft.core.Keys.KeyCol)).limit(8)
      .select(col(graft.core.Keys.KeyCol), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val gold = graft.search.Ann.exactTopKMulti(e, queries,
        graft.core.Keys.KeyCol, "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    def recallOf(page: Long => Set[Long]): Double = {
      val per = queries.map { case (q, _) =>
        (page(q) & gold(q)).size.toDouble / gold(q).size }
      per.sum / per.length
    }
    val plain = recallOf(q => graft.search.Ann.pqTopK(enc, cb,
        queries.find(_._1 == q).get._2, k = 10, graft.core.Keys.KeyCol)
      .collect().map(_.getLong(0)).toSet)
    val rerank = recallOf(q => graft.search.Ann.pqTopKRerank(enc, e, cb,
        queries.find(_._1 == q).get._2, k = 10, fetchK = 40,
        graft.core.Keys.KeyCol).collect().map(_.getLong(0)).toSet)
    assert(rerank >= plain, s"rerank $rerank < plain PQ $plain")
    assert(rerank >= RecallFloorSpec.PqRerankFloor,
      s"PQ rerank recall $rerank below pinned floor")
  }

  test("probed late-interaction floor: PLAID candidate generation holds its recall") {
    // chunk-granularity index (several vectors per doc via a tiny chunk
    // width) + IVF over the CHUNK vectors; gold is exact searchLate
    // (nProbe=0, all chunks scored), the gated tier probes ONE list per
    // query chunk with the default fetchK — starved enough to sit
    // strictly below 1.0 so the floor discriminates. A MaxSim pre-rank
    // or probe-selection regression drops below the floor and fails
    // loudly instead of flipping no oracle fixture.
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "floor3"))
    val words = Seq("alpha", "beta", "gamma", "delta", "orbit", "quark",
      "lumen", "fjord", "crane", "maple", "zephyr", "basalt")
    c.importDf((1 to 300).map(i =>
      s"${words(i % 12)} ${words((i * 5) % 12)} ${words((i * 7) % 12)} " +
        s"${words((i * 11) % 12)} document number $i section " +
        s"${words((i * 3) % 12)} ${words((i * 13) % 12)} tail $i").toDF("text"))
    assert(c.embedColumnChunked("text", emb, maxTokens = 4, overlapTokens = 1) >= 300L)
    c.buildAnnIndex("text", nLists = 16, sampleN = 1000)
    val queries = (1 to 10).map(i =>
      s"${words(i % 12)} document section ${words((i * 3) % 12)} " +
        s"number ${i * 29} tail ${words((i * 13) % 12)}")
    def page(q: String, nProbe: Int): Set[Long] =
      c.searchLate("text", q, limit = 10, emb, nProbe = nProbe)
        .select(col("key")).collect().map(_.getLong(0)).toSet
    val recalls = queries.map { q =>
      val gold = page(q, nProbe = 0)
      (page(q, nProbe = 1) & gold).size.toDouble / gold.size
    }
    val avg = recalls.sum / recalls.size
    info(f"probed-late recall (nProbe=1/16): $avg%.4f")
    assert(avg >= RecallFloorSpec.LateProbedFloor,
      s"probed searchLate recall $avg fell below pinned floor " +
        s"${RecallFloorSpec.LateProbedFloor}")
    assert(avg < 1.0, "fixture must discriminate: probed-late recall at " +
      "1.0 means the floor can never catch a regression — starve it harder")
  }

  test("fuzzy correction floor: trigram-gated top-1 correction holds its accuracy") {
    // One deterministic typo battery over the fixture vocabulary
    // (middle-char deletion, adjacent transposition, middle-char
    // substitution); accuracy = fraction whose top-1 suggestion is the
    // original token. Today only a trigram-gate / distance-ranking
    // regression (or a vocabulary-extraction bug) can lower it.
    val c = mkCollection("floor4", n = 400)
    c.buildKeywordIndex("text")
    val vocab = Seq("alpha", "gamma", "delta", "orbit", "quark", "lumen",
      "fjord", "crane", "maple", "zephyr", "basalt", "document", "number")
    // Suffix-region edits keep the leading trigrams intact, so they sit
    // INSIDE the trigram gate's recall contract (Fuzzy.scaladoc:
    // guaranteed only when 3*dist < len-2 — which a middle edit on a
    // 5-char word violates); the middle-substitution class stays as the
    // hard case so the metric can't saturate at 1.0.
    def typos(w: String): Seq[String] = {
      val m = w.length / 2
      val n = w.length
      Seq(w.take(n - 2) + w.drop(n - 1),           // delete last-but-one
        w.take(n - 2) + w(n - 1) + w(n - 2),       // transpose last two
        w.take(m) + "x" + w.drop(m + 1))           // substitute middle
    }
    val cases = vocab.flatMap(w => typos(w).map(_ -> w))
      .filter { case (t, w) => t != w } // a typo that IS the word tests nothing
    val hits = cases.count { case (typo, orig) =>
      c.suggest("text", typo, k = 1, maxDist = 2)
        .collect().headOption.exists(_.getString(0) == orig)
    }
    val acc = hits.toDouble / cases.size
    info(f"fuzzy correction accuracy over ${cases.size} typos: $acc%.4f")
    assert(acc >= RecallFloorSpec.FuzzyCorrectionFloor,
      s"fuzzy correction accuracy $acc fell below pinned floor " +
        s"${RecallFloorSpec.FuzzyCorrectionFloor}")
    assert(acc < 1.0, "fixture must discriminate: perfect correction " +
      "accuracy means the floor can never catch a regression — add " +
      "ambiguous typos")
  }
}

object RecallFloorSpec {
  // Floors pinned from the deterministic fixture's measured values
  // (bit-reproducible run-to-run); sit a hair under measured so only a
  // genuine quality regression crosses them.
  val IvfStarvedProbeFloor = 0.97
  val BinaryRerankFloor = 0.82
  val PqRerankFloor = 0.99
  // round-11: measured 0.7500 (probed-late, nProbe=1/16) and 0.7692
  // (fuzzy top-1 over the 39-typo battery) on the deterministic
  // fixtures — pinned a hair under; both sit strictly below 1.0 so the
  // floors discriminate
  val LateProbedFloor = 0.74
  val FuzzyCorrectionFloor = 0.76
}
