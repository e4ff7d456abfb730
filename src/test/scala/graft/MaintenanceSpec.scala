package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** The maintenance planner: turns indexStatus counters, ANN drift,
  * small-file pressure and keyword log churn into an ordered action
  * plan, and each named action actually clears its own plan row.
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)

  private def tmpRoot(): String =
    tempDir("graft_maint")

  private def plan(c: graft.core.Collection) =
    c.planMaintenance().collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3)))

  test("clean collection plans nothing; staleness plans repairs in dependency order") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "m1"))
    c.importDf((1 to 40).map(i => s"maintenance fixture doc $i word$i").toDF("text"))
    assert(c.embedColumn("text", emb) == 40)
    c.buildKeywordIndex("text")
    c.buildDedupIndex("text")
    c.buildAnnIndex("text", nLists = 2, sampleN = 100)
    c.buildBinarySketch("text")
    assert(plan(c).isEmpty, "freshly built structures need nothing")

    // mutate text under every index: all structures go stale
    c.upsert(Seq((5L, "rewritten body five"), (9L, "rewritten body nine"))
      .toDF("_key", "text"))
    val p = plan(c)
    // ann/binary are NOT stale yet: their fps mirror the vector index,
    // which still holds the old embeddings — the dependency the
    // ordering encodes
    assert(p.map(_._3).toSet == Set("vector", "keyword", "dedup"))
    // vector repair must sort FIRST (the others read its fingerprints)
    assert(p.head._3 == "vector" && p.head._4 == "reembedChanged + embedColumn")
    assert(p.tail.forall(_._1 == 2))

    // executing the plan in order clears it — and the vector repair
    // surfaces the ann AND binary follow-ups, each routed to ITS OWN
    // repair (binary used to mis-route to repairAnnIndex, which never
    // touches the sketch and could therefore never converge)
    assert(c.reembedChanged("text", emb) == 2)
    c.embedColumn("text", emb)
    assert(c.repairKeywordIndex("text") == 2)
    assert(c.repairDedupIndex("text") == 2)
    val p2 = plan(c)
    assert(p2.map(t => (t._3, t._4)).toSet ==
      Set(("ann", "repairAnnIndex"), ("binary", "repairBinarySketch")), p2.toSeq)
    assert(c.repairAnnIndex("text") == 2)
    assert(c.repairBinarySketch("text") == 2)
    assert(plan(c).isEmpty, "repairs resolve every planned row")
  }

  test("ANN centroid drift past the threshold plans a retrain") {
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
    val c = cat.create(CollectionConfig(name = "m2"))
    c.importDf((1 to 30).map(i => s"alpha doc $i").toDF("text"))
    assert(c.embedColumn("text", emb2) == 30)
    c.buildAnnIndex("text", nLists = 2, sampleN = 100)
    assert(plan(c).isEmpty)

    c.appendDf((1 to 30).map(i => s"zeta doc $i").toDF("text"))
    assert(c.embedColumn("text", emb2) == 30)
    assert(c.refreshAnnIndex("text") == 30)
    val p = plan(c)
    assert(p.exists(r => r._3 == "ann" && r._4 == "buildAnnIndex"),
      s"drifted index must plan a retrain, got ${p.mkString(", ")}")
    // the planned action lowers drift below the threshold again
    c.buildAnnIndex("text", nLists = 2, sampleN = 100)
    assert(!plan(c).exists(_._4 == "buildAnnIndex"))
  }

  test("small-file pressure plans a data compaction; churn plans a keyword fold") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "m3"))
    c.importDf(Seq("seed doc").toDF("text"))
    c.buildKeywordIndex("text")
    // 20 one-row appends -> >= 21 tiny files, ideal ~1
    (1 to 20).foreach(i => c.appendDf(Seq(s"tiny append $i").toDF("text")))
    val p1 = plan(c)
    assert(p1.exists(r => r._2 == "data" || (r._3 == "data" && r._4 == "compact")),
      s"small-file pressure must plan compact, got ${p1.mkString(", ")}")
    c.compact()
    assert(!plan(c).exists(_._4 == "compact"))

    // churn the keyword log: repair (tombstone+fresh) most keys repeatedly
    assert(c.repairKeywordIndex("text") == 20, "the appends were never indexed")
    (1 to 3).foreach { round =>
      c.upsert(c.df.select(col("_key"),
        concat(lit(s"round $round body "), col("_key")).as("text"))
        .where(col("_key") <= 18))
      c.repairKeywordIndex("text")
    }
    val p2 = plan(c)
    assert(p2.exists(_._4 == "compactKeywordIndex"),
      s"log churn must plan a keyword fold, got ${p2.mkString(", ")}")
    c.compactKeywordIndex("text")
    assert(!plan(c).exists(_._4 == "compactKeywordIndex"))
    // the folded index still answers correctly
    assert(c.searchKeyword("text", "round", 5).count() > 0)
  }

  test("a long keyword stats log plans a keyword fold") {
    val c = new Catalog(spark, tmpRoot()).create(CollectionConfig(name = "m5"))
    c.importDf(Seq("seed doc").toDF("text"))
    c.buildKeywordIndex("text")
    // every refresh commits one stats row file
    (1 to 16).foreach { i =>
      c.appendDf(Seq(s"appended doc $i").toDF("text"))
      assert(c.refreshKeywordIndex("text") == 1L)
    }
    assert(plan(c).exists(r => r._3 == "keyword" && r._4 == "compactKeywordIndex"),
      s"a 17-file stats log must plan a keyword fold, got ${plan(c).mkString(", ")}")
    c.compactKeywordIndex("text")
    assert(!plan(c).exists(_._4 == "compactKeywordIndex"))
    assert(spark.read.parquet(s"${c.keywordIndexDir("text")}/stats").count() == 1L)
  }

  test("sidecar file pressure: dedup bands/fps and ann fps fold and clear their plan rows") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "m4"))
    c.importDf((1 to 20).map(i => s"sidecar fixture doc $i word$i").toDF("text"))
    assert(c.embedColumn("text", emb) == 20)
    c.buildDedupIndex("text")
    c.buildAnnIndex("text", nLists = 2, sampleN = 50)
    def files(dir: String): Int = {
      val f = new java.io.File(dir)
      if (!f.exists()) 0
      else f.listFiles().map(x =>
        if (x.isDirectory) files(x.getPath)
        else if (x.getName.endsWith(".parquet")) 1 else 0).sum
    }
    // 20 one-row appends folded by the streams' batch path stand-in:
    // refresh-per-append grows every sidecar by one file per call
    (1 to 20).foreach { i =>
      c.appendDf(Seq(s"sidecar append $i word${i + 100}").toDF("text"))
      c.embedColumn("text", emb)
      c.refreshDedupIndex("text")
      c.refreshAnnIndex("text")
    }
    val ddBefore = files(c.dedupIndexDir("text"))
    val annFpsBefore = files(s"${c.annIndexDir("text")}/fps")
    assert(ddBefore > 20 && annFpsBefore > 10,
      s"setup must accumulate sidecar files, got dd=$ddBefore annFps=$annFpsBefore")
    val p = plan(c)
    assert(p.exists(_._4 == "compactDedupIndex"),
      s"band/fps pressure must plan a dedup fold, got ${p.mkString(", ")}")
    // one plan row per (column, action) even with two pressured sidecars
    assert(p.count(_._4 == "compactDedupIndex") == 1, p.mkString(", "))
    assert(c.compactDedupIndex("text") >= 2)
    c.compactAnnIndex("text")
    assert(files(c.dedupIndexDir("text")) <= 4, "bands+fps must fold small")
    assert(files(s"${c.annIndexDir("text")}/fps") <= 2, "ann fps must fold")
    assert(!plan(c).exists(r =>
      r._4 == "compactDedupIndex" || r._4 == "compactAnnIndex"), plan(c).toSeq)
    // folded structures still answer: dup check + exhaustive ann page
    val probe = Seq((900L, "sidecar append 7 word107")).toDF("_key", "text")
    assert(c.checkDuplicates("text", probe).count() >= 1)
    assert(c.searchAnn("text", "sidecar fixture doc 3", 3, emb, nProbe = 2)
      .count() == 3)
  }

  test("a novelty store neither breaks planning nor escapes backup's heal") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "m5"))
    c.importDf((1 to 20).map(i => s"novelty fixture doc $i word$i").toDF("text"))
    assert(c.embedColumn("text", emb) == 20)
    c.buildNoveltyStore("text")
    assert(plan(c).isEmpty, "a clean collection with a novelty store plans nothing")

    // a rebuild killed before its commit leaves a stage, after it a
    // journal with none, some or all of its files moved; backup heals
    // either (discards the stage, completes the journal) before copying
    val nv = c.noveltyStoreDir("text")
    val probe = Seq((100L, "novelty fixture doc 3 word3")).toDF("_key", "text")
    def grams = spark.read.parquet(s"$nv/grams").count()
    val nGrams = grams
    CrashPoints.each(c, nv)(c.buildNoveltyStore("text")) { point =>
      val dest = tmpRoot()
      c.backup(dest)
      assert(grams == nGrams, s"$point: the old grams or the new ones, never both")
      assert(!CrashPoints.hasStage(nv) && !CrashPoints.hasJournal(nv),
        s"$point: backup heals the novelty store's commit")
      val restored = cat.restore(dest, s"m5r_$point")
      assert(restored.noveltyCheck("text", probe, "text", "_key")
        .head().getAs[Long]("n_novel") == 0L, s"$point: the restored store still knows the grams")
    }
  }

  test("the upsert repair flow (repairIndexes) leaves the binary sketch clean") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "m6"))
    c.importDf((1 to 30).map(i => s"binary flow doc $i word$i").toDF("text"))
    assert(c.embedColumn("text", emb) == 30)
    c.buildKeywordIndex("text")
    c.buildBinarySketch("text")
    val updates = Seq((4L, "an entirely different body for four")).toDF("_key", "text")
    c.upsert(updates)
    val repaired = c.repairIndexes("text", emb, Some(updates.select("_key"))).toMap
    assert(repaired("vector") == 1L && repaired("keyword") == 1L && repaired("binary") == 1L,
      repaired)
    val status = c.indexStatus("text").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(status("binary") == 0L && status.values.forall(_ == 0L), status)
    assert(plan(c).isEmpty)
  }
}
